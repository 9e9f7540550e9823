"""Readers for the driver's synthetic parquet tables (TESTDATA.md).

Plain ``spark.read.parquet`` so Catalyst gets native scans with column
pruning + predicate pushdown; no schema-on-read coercion is needed (the
parquet files carry their schema). At 100 TB these would be
partitioned/bucketed tables behind a catalog — the query code in
``plans/`` only sees DataFrames, so the swap is a one-file change here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import cache

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Scan plans are cached per session (``cache`` kind ``table``):
# ``spark.read.parquet`` costs ~0.25 s per call (footer and schema
# inference plus a fresh InMemoryFileIndex listing), and the suite calls
# load_table hundreds of times per bench pass. The cached object is a
# lazy DataFrame, an unexecuted scan plan: every execution still reads
# the parquet input in full, so this caches METADATA the way a catalog's
# metastore schema would, never data or results. The file token makes a
# rewritten table path load a fresh file index (the metastore analogue
# is REFRESH TABLE after an external rewrite).
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; one of {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"

    def build() -> DataFrame:
        if name == "events":
            return _load_events_uncached(spark, sf_dir)
        return spark.read.parquet(path)

    return cache.get("table", (sf_dir.rstrip("/"), name), build, cache.file_token(path))


def _load_events_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has shipped with ``ts`` in several physical encodings
    across testdata regenerations (TIMESTAMP(NANOS), then timestamp[us]
    NTZ); normalize all of them to a session-TZ TIMESTAMP so every
    downstream plan and the DuckDB oracle see identical instants.

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read nanos
      as long (legacy conf, scoped to this read) and truncate to micros.
      Truncation (not rounding) matches DuckDB's TIMESTAMP_NS → TIMESTAMP
      read, preserving both instants and sub-microsecond sort tiebreaks.
    - timestamp[us] isAdjustedToUTC=false: Spark infers TIMESTAMP_NTZ;
      cast to TIMESTAMP (wall-clock reinterpretation in the session TZ,
      which is UTC here) to match DuckDB's naive TIMESTAMP.
    - timestamp[us] UTC-adjusted: already TIMESTAMP; pass through.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Scope the legacy conf to this read: schema resolution (nanos→long)
    # happens eagerly at spark.read.parquet(), so restoring the previous
    # value afterwards leaves other parquet reads in the session
    # interpreting nanos columns however they were configured to.
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        e = spark.read.parquet(f"{sf_dir}/events.parquet")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    ts_type = e.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return e.withColumn("ts", F.col("ts").cast("timestamp"))
    return e


def plan_memo(fn):
    """Memoize a DataFrame-PLAN builder ``fn(spark, sf_dir, ...)`` per
    session (``cache`` kind ``plan``). As with load_table, the cached
    object is an unexecuted logical plan, so every execution still
    computes from the parquet inputs; this removes only the repeated
    Py4J and analysis cost of rebuilding a plan prefix that dozens of
    queries share (~40-150 ms per builder call). Builders may read
    several tables, so the staleness token covers every table under
    ``sf_dir``: rewriting any input invalidates the memoized plan."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str, *args, **kwargs):
        key = (fn, sf_dir.rstrip("/"), args, tuple(sorted(kwargs.items())))
        token = cache.file_token(*(f"{sf_dir}/{n}.parquet" for n in TABLE_NAMES))
        return cache.get(
            "plan", key, lambda: fn(spark, sf_dir, *args, **kwargs), token
        )

    return wrapper


def _scan_splits(df: DataFrame) -> int | None:
    """Effective scan parallelism of a plan's parquet leaves, from FILE
    METADATA only — no DataFrame→RDD conversion, no physical planning
    (round-15; the round-14 gate's ``df.rdd.getNumPartitions()`` paid a
    full physical-planning pass per spread call site per build, the
    same driver build-cost class the plan caches remove).

    Two bounds, take the min:

    - planned byte-range splits, replicating FilePartition.maxSplitBytes:
      ``min(maxPartitionBytes, max(openCostInBytes, totalBytes/minPartitionNum))``
      over the open-cost-charged total — what Spark will actually plan;
    - total parquet row groups — a row group is consumed by exactly one
      split (the one holding its midpoint), so a large single-row-group
      file plans many byte splits but only ONE produces rows. The old
      RDD-count gate missed exactly this case (it skipped the fan-out in
      the single-split skew case it exists to fix).

    Returns None when the plan has no parquet file leaves (in-memory /
    test frames) or a footer is unreadable — the caller falls back to
    the planned partition count.

    Contract: meant for BARE SCANS and projections of them (every
    current spread() call site). ``inputFiles`` merges the leaf file
    lists of every relation in the plan and reflects no partition
    pruning, so a filtered-partitioned or multi-relation input can read
    HIGHER than its true post-pruning parallelism; such frames should
    not be spread() directly (pre-project/filter into a bare frame
    first, as q_column_profile does)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    paths = []
    for f in files:
        if f.startswith("file://"):
            f = f[7:]
        elif f.startswith("file:"):
            f = f[5:]
        if not f.endswith(".parquet") or not os.path.isabs(f):
            return None
        paths.append(f)
    spark = df.sparkSession
    try:
        jconf = spark._jsparkSession.sessionState().conf()
        max_pb = int(jconf.filesMaxPartitionBytes())
        open_cost = int(jconf.filesOpenCostInBytes())
    except Exception:
        max_pb, open_cost = 128 * 1024 * 1024, 4 * 1024 * 1024
    # FilePartition.maxSplitBytes: minPartitionNum, else the session's
    # leafNodeDefaultParallelism, else the context's defaultParallelism
    min_pn = int(
        spark.conf.get("spark.sql.files.minPartitionNum", None)
        or spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    total_row_groups = 0
    total_bytes = 0
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:
            return None
        # footers are read once per file version per process
        n_rg = cache.get(
            "row_groups", p, lambda: _row_groups(p), (st.st_mtime_ns, st.st_size)
        )
        if n_rg is None:
            return None
        total_row_groups += n_rg
        total_bytes += st.st_size + open_cost
    max_split = min(max_pb, max(open_cost, total_bytes // max(1, min_pn)))
    byte_splits = max(1, -(-total_bytes // max(1, max_split)))  # ceil div
    return min(byte_splits, total_row_groups)


def _row_groups(path: str) -> int | None:
    """Row-group count from a parquet footer; None when unreadable."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_row_groups
    except Exception:
        return None


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition for expression-heavy per-row stages —
    GATED on the input's actual scan parallelism (round-14; gate
    cheapened + row-group-aware in round-15).

    The synthetic tables are single parquet files with one row group
    (1 effective input split), which serializes CPU-bound per-row work
    onto one core; the round-robin shuffle restores the many-split
    shape a production table already has. But when the scan is ALREADY
    parallel, the same repartition is a pure full-table shuffle tax:
    the round-14 sf1 A/B on q_column_profile measured 1.42 s / 18.8 s
    CPU / 17 MB shuffled without it vs 6.83 s / 144 s CPU / 255 MB
    with it, on a 32-split input. So: spread only when the effective
    scan parallelism (:func:`_scan_splits` — file metadata only, no
    planning pass) is under max(2, target/2) — single-file local
    inputs fan out, multi-split production scans pass through
    untouched, and the row values are identical either way (the gate
    only decides WHERE rows are computed). Non-file inputs (tests,
    in-memory frames) fall back to the planned partition count."""
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    n_in = _scan_splits(df)
    if n_in is None:
        try:
            n_in = df.rdd.getNumPartitions()
        except Exception:
            n_in = 1  # un-plannable input: assume narrow, keep the fan-out
    if n_in >= max(2, partitions // 2):
        return df
    return df.repartition(partitions)


class Tables:
    """Lazy attribute-style access: ``t = Tables(spark, sf); t.lineitem``."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        return load_table(self._spark, self._sf_dir, name)


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    return Tables(spark, sf_dir)
