"""Incremental near-dup filtering against a persistent LSH band index.

A growing corpus cannot re-run all-corpus dedup per ingest batch: at
100 TB the O(corpus) pass per micro-batch is the same pathology as the
full-table upsert rewrite. The scalable form is an INDEX of LSH band
keys (``(band, h)`` per accepted doc — a few short rows per document),
stored bucket-partitioned by band hash:

- an incoming batch computes its own band keys (map-only),
- probes ONLY the index buckets its keys hash into (partition-pruned
  scan, same discipline as ``streaming/upsert.py``),
- docs colliding with an indexed band are rejected as near-dups
  (optionally verified exactly within the candidate set — see
  ``operators/dedup.near_dup_pipeline`` for the verify stage),
- survivors' band keys are APPENDED to their buckets (no rewrite of
  existing index files).

Per-batch cost is O(batch + touched buckets), never O(corpus).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..cache import unpin
from ..operators.dedup import lsh_bands


def merge_near_dup_index(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    n_buckets: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Dedup one batch against the stored index and fold it in.

    Returns ``(accepted, matches)``: ``accepted`` = batch rows that
    collided with neither the index nor an earlier (lower-id) batch
    doc; ``matches`` = ``(new_id, existing_id)`` rejection evidence.
    Within-batch ties keep the lowest id (deterministic replay).
    Accepted docs' band keys are appended to the index before return.

    ``matches`` is pinned (``accepted`` reads it): the caller owns the
    pin and releases it with ``cache.unpin(matches)`` once done with
    both frames. The band keys' pin is released before return.
    """
    id_type = batch.schema[id_col].dataType.simpleString()
    no_matches = spark.createDataFrame([], f"new_id {id_type}, existing_id {id_type}")
    seen = Observation()
    bk = (
        lsh_bands(
            batch, id_col=id_col, text_col=text_col, n_hashes=n_hashes,
            bands=bands, shingle_n=shingle_n,
        )
        .withColumn("__bucket", F.pmod("h", F.lit(n_buckets)).cast("int"))
        .observe(seen, F.collect_set("__bucket").alias("touched"))
    )
    # One materialization: probed, self-joined, and appended below. The
    # touched-bucket set rides the same job as an observed metric.
    bk = bk.localCheckpoint()
    try:
        touched = seen.get["touched"]
        if not touched:
            # No band keys (an empty batch, or only docs too short to
            # shingle): nothing can collide and nothing joins the index.
            return batch, no_matches

        # dup-vs-index: probe only touched buckets (partition-pruned scan)
        if os.path.exists(index_path):
            idx = spark.read.parquet(index_path).where(F.col("__bucket").isin(touched))
            vs_index = (
                bk.join(
                    idx.withColumnRenamed(id_col, "existing_id"),
                    ["band", "h", "__bucket"],
                )
                .select(F.col(id_col).alias("new_id"), "existing_id")
            )
        else:
            vs_index = no_matches

        # dup-within-batch: keep the lowest id of each colliding band group.
        # Resolved with a per-group min AGGREGATE, not a pairwise self-join:
        # a doc is rejected iff ANY lower id shares one of its bands, which
        # is exactly "its id exceeds the group minimum", so the rejected set
        # is identical — but the cost is O(batch band rows) where the pair
        # join is O(sum of group sizes squared). A heavily-duplicated batch
        # (the common case the dedup index exists FOR) makes band groups
        # scale with batch size and the pair form blows up quadratically
        # (1e9+ rows from a 100k-doc near-identical batch); the aggregate
        # form's map-side combine never materializes more than one row per
        # (band, h) per partition. Evidence rows point at the group winner.
        grp_min = bk.groupBy("band", "h").agg(F.min(id_col).alias("existing_id"))
        in_batch = (
            bk.join(grp_min, ["band", "h"])
            .where(F.col(id_col) > F.col("existing_id"))
            .select(F.col(id_col).alias("new_id"), "existing_id")
        )
        matches = vs_index.unionByName(in_batch).distinct().localCheckpoint()

        rejected = matches.select(F.col("new_id").alias(id_col)).distinct()
        accepted = batch.join(rejected, id_col, "left_anti")

        new_bands = bk.join(
            rejected.withColumnRenamed(id_col, "__r"),
            bk[id_col] == F.col("__r"),
            "left_anti",
        )
        new_bands.write.mode("append").partitionBy("__bucket").parquet(index_path)
        return accepted, matches
    finally:
        unpin(bk)


def stream_near_dup_filter(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_once: bool = False,
):
    """Streaming wrapper: per micro-batch, reject near-dups of anything
    already accepted (this batch or any earlier one) and append the
    survivors to ``out_path``. Index growth is append-only; replayed
    batches re-derive the same band keys, and survivors are re-appended
    idempotently at the row level (same keys, same bucket)."""
    spark = stream.sparkSession

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        # Emptiness rides the merge's band-key job as an observed count:
        # an ``isEmpty()`` probe would be a job of its own.
        rows = Observation()
        accepted, matches = merge_near_dup_index(
            spark, batch_df.observe(rows, F.count(F.lit(1)).alias("n")), index_path,
            id_col=id_col, text_col=text_col,
        )
        try:
            if rows.get["n"]:
                accepted.write.mode("append").parquet(out_path)
        finally:
            unpin(matches)

    writer = stream.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="60 seconds")
    return writer.start()
