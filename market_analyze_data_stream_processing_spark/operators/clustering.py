"""Iterative clustering over embedding columns: Lloyd's k-means with
deterministic seeding.

The iterative-algorithm capability slot (driver loop over distributed
steps — the shape MLlib's KMeans uses internally): each iteration is ONE
fused Arrow pass (``_lloyd_step``) where every partition assigns its rows
by a numpy matmul and emits k partial (count, vector-sum) rows; the
driver reduces ≤ k·partitions tiny rows into the new centroids. No
shuffle, no per-iteration codegen — centroids travel in the task
closure, so updating them never recompiles a plan.

At 100 TB the assignment stage is embarrassingly parallel and the only
data movement per iteration is k·dim doubles per partition.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _unit(A: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm (an all-zero row stays zero)."""
    return A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-30)


def _nearest(centroids: dict[int, np.ndarray]):
    """Nearest-centroid-by-cosine kernel shared by every Arrow pass.
    Returns ``(ids, nearest)``: the sorted cluster ids, and a function
    mapping a row matrix X to ``(Xn, idx)`` — X's unit rows and each
    row's position in ``ids``. Ties break to the highest cluster id:
    the first max of the reversed columns is the highest-id argmax."""
    ids = sorted(centroids)
    Cn = _unit(np.stack([np.asarray(centroids[c], dtype=np.float64) for c in ids]))

    def nearest(X: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        Xn = _unit(X)
        sims = Xn @ Cn.T
        return Xn, sims.shape[1] - 1 - np.argmax(sims[:, ::-1], axis=1)

    return ids, nearest


def _lloyd_step(
    work: DataFrame, centroids: dict[int, np.ndarray], vec_col: str
) -> dict[int, tuple[int, np.ndarray]]:
    """One fused Lloyd iteration: assign + per-partition partial sums in a
    single Arrow pass, reduced on the driver. Returns
    ``{cluster: (count, mean)}`` — the counts come for free from the same
    reduction, and the LAST step's stats ARE the post-update centroids +
    cluster sizes the q_kmeans_clusters quality contract needs (so the
    query never re-aggregates them with a dim-wide codegen plan).

    Each partition emits at most k rows of (partition_id, cluster, count,
    vector_sum) — the map-side combine happens in numpy, the "shuffle" is
    a collect of ≤ k·partitions tiny rows, and nothing re-codegens when
    the centroid values change (they ride in the task closure). This is
    the treeAggregate shape MLlib's KMeans uses. Driver reduction sums in
    (cluster, partition_id) order so replays are bit-identical."""
    from pyspark import TaskContext
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    import pandas as pd

    ids, nearest = _nearest(centroids)
    id_arr = np.asarray(ids, dtype=np.int64)
    schema = StructType(
        [
            StructField("pid", IntegerType()),
            StructField("c", IntegerType()),
            StructField("n", LongType()),
            StructField("s", ArrayType(DoubleType())),
        ]
    )

    def part(batches):
        pid = TaskContext.get().partitionId()
        counts: dict[int, int] = {}
        sums: dict[int, np.ndarray] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            assigned = id_arr[nearest(X)[1]]
            for c in np.unique(assigned):
                m = assigned == c
                counts[int(c)] = counts.get(int(c), 0) + int(m.sum())
                prev = sums.get(int(c))
                part_sum = X[m].sum(axis=0)
                sums[int(c)] = part_sum if prev is None else prev + part_sum
        if counts:
            yield pd.DataFrame(
                {
                    "pid": pid,
                    "c": sorted(counts),
                    "n": [counts[c] for c in sorted(counts)],
                    "s": [sums[c].tolist() for c in sorted(counts)],
                }
            )

    rows = work.select(vec_col).mapInPandas(part, schema).collect()
    agg: dict[int, tuple[int, np.ndarray]] = {}
    for r in sorted(rows, key=lambda r: (r["c"], r["pid"])):
        n, s = agg.get(r["c"], (0, np.zeros(len(r["s"]))))
        agg[r["c"]] = (n + r["n"], s + np.asarray(r["s"], dtype=np.float64))
    return {c: (n, s / n) for c, (n, s) in agg.items()}


def assign_clusters_arrow(
    df: DataFrame,
    centroids: dict[int, np.ndarray],
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Nearest-centroid assignment as ONE Arrow-batched matmul per batch
    (``mapInPandas`` + numpy). An expression form would re-codegen a
    k×dim literal fold tree per centroid set (centroid values are plan
    literals, so each update forces a fresh wholestage compile — that
    JIT dominated the bench at small SF and grows with k·dim). Here
    centroids ride in the task closure (k·dim floats, broadcast-tiny),
    rows stream through as Arrow batches, and the k·dim·batch
    similarity is one BLAS matmul — the same shape MLlib's k-means
    uses. Ties break to the highest cluster id (``_nearest``)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    ids, nearest = _nearest(centroids)
    id_arr = np.asarray(ids, dtype=np.int64)
    schema = StructType(df.schema.fields + [StructField(out_col, IntegerType())])

    def part(batches):
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            pdf[out_col] = id_arr[nearest(X)[1]].astype(np.int32)
            yield pdf

    return df.mapInPandas(part, schema)


def seed_centroids(
    df: DataFrame, k: int, vec_col: str = "embedding", id_col: str = "vec_id"
) -> dict[int, np.ndarray] | None:
    """Deterministic seeds: the k lowest-id vectors (no RNG ⇒ replayable).
    None on an empty corpus."""
    seed_rows = df.orderBy(id_col).limit(k).select(id_col, vec_col).collect()
    if not seed_rows:
        return None
    return {
        i: np.asarray(list(r[vec_col]), dtype=np.float64)
        for i, r in enumerate(seed_rows)
    }


def cluster_quality_partials(
    work: DataFrame,
    assign_cents: dict[int, np.ndarray],
    own_cents: dict[int, np.ndarray],
    glob: np.ndarray,
    vec_col: str,
) -> tuple[int, float, float]:
    """One fused Arrow pass for the clustering-quality contract: assign
    each row under ``assign_cents`` (the ``_nearest`` kernel of
    ``assign_clusters_arrow``), then accumulate the row's cosine to its
    OWN post-update centroid (``own_cents``) and to the single global
    centroid. Returns (n, sum_sim_own, sum_sim_glob) with the driver
    reduction in partition-id order (replay-stable).

    This replaces a dim-wide avg aggregate + a k-branch literal-vector
    CASE fold: both re-codegen on every run because the centroid values
    are plan literals, and that JIT dominated q_kmeans_clusters' bench
    cost. Here centroids ride in the task closure and the whole pass is
    two BLAS matmuls per Arrow batch."""
    from pyspark import TaskContext
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    import pandas as pd

    ids, nearest = _nearest(assign_cents)
    # own_cents only contains clusters seen in the final assignment; a
    # cluster absent there can never be a row's own, so its slot value
    # is irrelevant (zeros keep the stack rectangular).
    M = np.stack(
        [
            np.asarray(own_cents.get(c, np.zeros(len(glob))), dtype=np.float64)
            for c in ids
        ]
    )
    Mn = _unit(M)
    g = np.asarray(glob, dtype=np.float64)
    gn = g / max(float(np.linalg.norm(g)), 1e-30)
    schema = StructType(
        [
            StructField("pid", IntegerType()),
            StructField("n", LongType()),
            StructField("so", DoubleType()),
            StructField("sg", DoubleType()),
        ]
    )

    def part(batches):
        pid = TaskContext.get().partitionId()
        n = 0
        so = sg = 0.0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Xn, idx = nearest(X)
            so += float((Xn * Mn[idx]).sum())
            sg += float((Xn @ gn).sum())
            n += len(X)
        if n:
            yield pd.DataFrame({"pid": [pid], "n": [n], "so": [so], "sg": [sg]})

    rows = work.select(vec_col).mapInPandas(part, schema).collect()
    n = so = sg = 0
    for r in sorted(rows, key=lambda r: r["pid"]):
        n += r["n"]
        so += r["so"]
        sg += r["sg"]
    return n, so, sg


def kmeans(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 3,
) -> DataFrame:
    """Deterministic Lloyd k-means: seeds = the k lowest-id vectors (no
    RNG ⇒ replayable), fixed iteration count. Returns df + ``cluster``."""
    centroids = seed_centroids(df, k, vec_col=vec_col, id_col=id_col)
    if centroids is None:
        # Empty corpus: there are no seeds and the only total answer is
        # the empty assignment (same schema, zero rows) — a filter that
        # eliminated every row upstream must not crash the pipeline.
        from pyspark.sql.types import IntegerType

        return df.withColumn("cluster", F.lit(None).cast(IntegerType())).where(
            F.lit(False)
        )
    # Iterative working set: spread across cores (the synthetic table is
    # one parquet file = one input split, which would serialize the
    # fold-heavy assignment) and CACHE it — every iteration re-reads the
    # same rows, the canonical persist() case for iterative algorithms
    # (MLlib's k-means does the same). The cache is dropped before
    # returning; the final assignment plans against the original df.
    from ..sources.tables import spread

    final_centroids = centroids  # iterations=0 ⇒ assign against the seeds
    work = spread(df.select(vec_col)).persist()
    try:
        for _ in range(iterations):
            final_centroids = centroids  # assignment uses pre-update centroids
            stats = _lloyd_step(work, centroids, vec_col=vec_col)
            centroids = {c: m for c, (_n, m) in stats.items()}
    finally:
        work.unpersist()
    return assign_clusters_arrow(df, final_centroids, vec_col=vec_col)
