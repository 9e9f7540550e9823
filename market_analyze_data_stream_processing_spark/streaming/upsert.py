"""Upsert sinks (SURVEY.md §2.1 S4/S6, §2.9 X5–X7): checkpointed
foreachBatch keep-latest-per-key merges — the Spark-native form of the
reference's per-message CSV read-modify-write (consumer.py:95-109) and
Chroma ``collection.upsert`` (consumer.py:176-181).

Local implementation merges into hash-bucket-partitioned Parquet: the
table is laid out as ``path/__bucket=NN/`` directories keyed by
``xxhash64(keys) % n_buckets``, and a micro-batch only READS and
REWRITES the buckets its keys hash into (a scan of those bucket
directories + dynamic partition overwrite). Untouched bucket directories
are never opened — per-trigger I/O is O(batch ∧ touched buckets), not O(table),
which is what makes a 60 s trigger viable against a 100 TB store. At
production scale the identical ``keep_last_merge`` batch logic lands in
a Delta/Iceberg MERGE INTO — the merge semantics are the contract, the
table format is a deployment choice.

Per-batch job budget. A merge into an existing table runs three Spark
jobs and nothing else:

1. the touched-bucket scan: one map-only job over the batch, the bucket
   set observed as a ``collect_set`` metric (no exchange, no reduce
   stage);
2. the merge write: union of the touched buckets' files and the batch,
   ONE hash exchange on ``__bucket``, the keep-last window over
   ``(__bucket, *keys)`` inside it, dynamic-overwrite write — two jobs,
   because AQE runs the shuffle map stage as a job of its own.

Nothing else runs a job:

- no emptiness probe. An empty batch shows up as an empty touched set,
  and the merge returns before it reads or writes anything. The probe
  (``isEmpty()``, a ``limit 1``) must never run on a frame that carries
  pandas UDFs: its early stop closes the Arrow stream under the Python
  workers, the daemon logs ``BrokenPipeError``, and every following job
  forks and re-imports a fresh worker set instead of reusing the warm
  one;
- no schema inference. Spark writes the table's schema into every
  parquet footer; the reader is given the schema stored in one footer
  of the touched buckets (read on the driver, no job), exactly the one
  Spark's inference would return. Only a footer without it (a file
  Spark did not write) falls back to the inference job;
- no eager pin. The touched set and the written rows must come from the
  same data — a batch evaluated twice could differ and write a bucket
  that was never read-merged, a silent loss — so the batch is pinned,
  lazily (``localCheckpoint(eager=False)`` runs no job): the
  touched-bucket scan fills the pin, and the write reads it. The batch,
  pandas UDFs included, is computed once.

Pin-release rule: a pin is released through its own RDD (the one under
the pinned frame's ``LogicalRDD``, found by the frame, not by id
lookup) as soon as the write has finished or failed — never by diffing
``getPersistentRDDs()`` around the merge, because the two sinks of one
consumer cycle merge at the same time and a diff can catch the other
query's pin.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from ..operators.analytics import keep_last

#: Footer key under which Spark's parquet writer stores the row schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def keep_last_merge(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: list[str],
    order: list[str],
) -> DataFrame:
    """The merge kernel: union existing+incoming, keep the latest row per
    key (W5 — the reference's ``~index.duplicated(keep='last')``)."""
    merged = (
        existing.unionByName(incoming, allowMissingColumns=True)
        if existing is not None
        else incoming
    )
    return keep_last(merged, key=keys, order=order)


def _bucket_expr(keys: list[str], n_buckets: int):
    return F.pmod(
        F.xxhash64(*[F.col(k).cast("string") for k in keys]), F.lit(n_buckets)
    ).cast("int")


def _touched_buckets(incoming: DataFrame) -> list[int]:
    """The distinct ``__bucket`` values of a batch in one map-only job: an
    observed ``collect_set`` is merged on the driver from the result
    tasks' accumulators (once per partition), so there is no exchange
    and no reduce stage; the noop sink runs the scan and writes nothing.
    The set holds at most ``n_buckets`` values."""
    seen = Observation()
    (
        incoming.select("__bucket")
        .observe(seen, F.collect_set("__bucket").alias("b"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return sorted(seen.get["b"])


def _bucket_files(path: str, buckets: list[int]) -> dict[int, set[str]]:
    """File names in each existing ``__bucket=b`` directory."""
    out = {}
    for b in buckets:
        d = os.path.join(path, f"__bucket={b}")
        if os.path.isdir(d):
            out[b] = set(os.listdir(d))
    return out


def _stored_schema(path: str, files: dict[int, set[str]]) -> StructType | None:
    """The data schema Spark's parquet inference would return for the
    touched buckets, without its job: the schema Spark serialized into
    the footer of the first data file (inference also reads one footer
    and prefers that same entry), or None when the footer has none.
    The partition column lives in the directory name, not the file."""
    for b, names in sorted(files.items()):
        parts = sorted(n for n in names if n.endswith(".parquet"))
        if parts:
            meta = pq.read_metadata(os.path.join(path, f"__bucket={b}", parts[0])).metadata
            stored = (meta or {}).get(_SPARK_SCHEMA_KEY)
            return StructType.fromJson(json.loads(stored)) if stored else None
    return None


def upsert_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    order: list[str],
    retention_predicate=None,
    n_buckets: int = 16,
) -> None:
    """Merge a (micro-)batch into a bucket-partitioned parquet table with
    keep-last-per-key semantics + optional retention trim (X6).

    Scale shape: only the ≤``n_buckets`` partitions containing incoming
    keys are listed and read (their ``__bucket=NN`` directories) and
    only those are replaced (dynamic partition overwrite) —
    per-batch I/O is proportional to the touched buckets, never the
    whole table, and the table path always exists (no reader-visible
    swap window; the commit protocol stages and renames per partition).

    Job budget (module docstring): a map-only touched-bucket scan and
    one single-exchange write, three jobs under AQE; no emptiness probe,
    no schema-inference job for files Spark wrote, and a lazy pin that
    the touched-bucket scan fills. A batch with no rows writes nothing,
    and as the first batch of a new path creates no directory. The pin
    is released through its own RDD once the write is done, whether or
    not it succeeded.

    Idempotent for replayed batches (same rows → same keep-last
    outcome), which is what makes checkpointed foreachBatch exactly-once
    in effect (X7). ``n_buckets`` is a table constant — changing it on
    an existing table would split keys across buckets; keep it fixed per
    path. ``retention_predicate`` is enforced on touched buckets as part
    of the merge; a full-table retention sweep is a separate maintenance
    job (at scale: a date-partition drop, see ``retention_filter``).
    """
    incoming = incoming.withColumn("__bucket", _bucket_expr(keys, n_buckets)).localCheckpoint(
        eager=False
    )
    pin = incoming._jdf.queryExecution().analyzed().rdd()
    try:
        touched = _touched_buckets(incoming)
        if not touched:
            return
        files = _bucket_files(path, touched)
        merged = incoming
        if files:
            reader = spark.read.option("basePath", path)
            stored = _stored_schema(path, files)
            if stored is not None:
                reader = reader.schema(stored.add("__bucket", IntegerType()))
            existing = reader.parquet(*[os.path.join(path, f"__bucket={b}") for b in files])
            merged = existing.unionByName(incoming, allowMissingColumns=True)
        # __bucket is a function of the keys: one exchange on it serves
        # both the keep-last window over (__bucket, *keys) and the
        # per-bucket write, where windowing on the keys and then
        # repartitioning would shuffle twice.
        merged = keep_last(merged.repartition("__bucket"), key=["__bucket", *keys], order=order)
        if retention_predicate is not None:
            merged = merged.where(retention_predicate)
        (
            merged.write.mode("overwrite")
            .partitionBy("__bucket")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )
    finally:
        pin.unpersist(False)
    # Dynamic overwrite only replaces the buckets present in the output,
    # each under new file names. A touched bucket whose every row was
    # retention-trimmed (the only way one can vanish: a keep-last merge
    # emits ≥1 row per incoming key) still holds its old files; drop it.
    for b, names in files.items():
        d = os.path.join(path, f"__bucket={b}")
        if set(os.listdir(d)) == names:
            shutil.rmtree(d, ignore_errors=True)


def stream_upsert_parquet(
    stream: DataFrame,
    path: str,
    keys: list[str],
    order: list[str],
    checkpoint: str,
    retention_predicate=None,
    trigger_once: bool = False,
):
    """S4/S6 as a streaming sink: checkpointed foreachBatch around
    ``upsert_parquet``.

    Arrival order for keep-last is (batch_id, within-batch row id) —
    assigned inside the batch function (monotonically_increasing_id is
    not allowed on streaming frames) and appended after any caller-
    supplied order columns, so re-sent keys resolve to the latest
    arrival exactly like the reference's keep='last'."""
    spark = stream.sparkSession

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        batch_df = batch_df.withColumn(
            "__batch_id", F.lit(batch_id).cast("long")
        ).withColumn("__row_seq", F.monotonically_increasing_id())
        upsert_parquet(
            spark,
            batch_df,
            path,
            keys,
            order + ["__batch_id", "__row_seq"],
            retention_predicate=retention_predicate,
        )

    writer = stream.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="60 seconds")  # X1 cadence
    return writer.start()


def retention_filter(now: float, retention_days: int = 30, doc_type: str = "daily_summary"):
    """X6 (consumer.py:26-27, 115-130): drop ``daily_summary`` docs older
    than 30 days; all other types untouched. At scale this predicate is a
    partition drop (date-bucketed partitions), not a row delete."""
    from pyspark.sql import functions as F

    cutoff = now - retention_days * 86400.0
    return ~((F.col("type") == doc_type) & (F.col("timestamp") < cutoff))
