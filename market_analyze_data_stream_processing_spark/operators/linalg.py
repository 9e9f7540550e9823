"""Distributed dense linear algebra over embedding columns: Gram /
covariance matrices — the building block behind PCA, whitening, and
Mahalanobis outlier scoring in an embedding-curation pipeline.

Scale shape: the naive lowering explodes every vector into d² pair
rows (a 4096× row blowup at d=64 — ruinous at 100 TB). Instead the
Gram matrix accumulates as PER-PARTITION numpy partials (one d×d
int64 matrix per task over Arrow batches), emitting ≤ d(d+1)/2
upper-triangle rows per partition; the cross-partition combine is one
tiny hash aggregate. Column sums stay JVM-side as a single posexplode
+ DECIMAL aggregate (exact, linear), and the final covariance
assembly joins d²/2 rows with a 1-row count broadcast — driver never
sees a vector.

Float discipline (the repo rule from operators/profiling.py): every
per-row product is quantized to a FIXED integer grid —
floor(x_i·x_j·1e8 + 0.5) — before any cross-row summation, so the
accumulated Gram is exact integer arithmetic: byte-identical under
any partitioning, task order, or chunking, and byte-identical to an
oracle that folds the same quantized terms sequentially. (A raw
float64 X^T X partial is partition-layout- and BLAS-order-dependent;
round-9 fix after the r08 driver hash flagged exactly that wobble.)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Fixed quantization grid for Gram cross-moments: 8 decimal places.
# floor(p*1e8 + 0.5) is computed in IEEE float64 on BOTH sides (numpy
# here, DuckDB in the oracle CTE) — identical inputs give identical
# integers, and integer addition is associative, so the total is
# independent of partitioning / accumulation order.
GRAM_SCALE = 1e8

# Row-chunk size for the per-row outer-product quantization: bounds
# task memory at CHUNK*d² doubles (256·4096·8B = 8 MiB at d=64)
# regardless of Arrow batch size.
_CHUNK = 256


def gram_partials(emb: DataFrame, col: str, dim: int) -> DataFrame:
    """Per-partition upper-triangle partials of the QUANTIZED Gram
    matrix: rows (i, j, g_scaled) with 1-based i ≤ j and
    g_scaled = Σ_rows floor(x_i·x_j·1e8 + 0.5), one set per partition.
    O(d²) int64 task state, Arrow-batched; exact integer accumulation
    (int64 headroom: |x_i·x_j|·1e8 per term, ~1e9 for unit-scale
    embeddings — ≥1e9 rows per task before overflow nears 2^63)."""

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        G = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[col]])
            # Non-finite policy: REFUSE, loudly. floor(NaN·1e8+0.5)
            # .astype(int64) is undefined (INT64_MIN in practice) and
            # would silently poison every accumulated cell, while the
            # oracle's CAST errors — a silent cross-engine divergence.
            # NULL components arrive here as NaN and hit the same gate.
            if not np.isfinite(X).all():
                raise ValueError(
                    "gram_partials: non-finite (NaN/±inf) or NULL "
                    f"component in '{col}' — clean or filter the "
                    "embedding column before the covariance/Gram pass"
                )
            for lo in range(0, len(X), _CHUNK):
                C = X[lo : lo + _CHUNK]
                P = C[:, :, None] * C[:, None, :]
                G += np.floor(P * GRAM_SCALE + 0.5).astype(np.int64).sum(axis=0)
            seen = True
        if not seen:
            return
        ii, jj = np.triu_indices(dim)
        yield pd.DataFrame(
            {"i": ii + 1, "j": jj + 1, "g_scaled": G[ii, jj]}
        )

    return emb.select(col).mapInPandas(
        part, schema="i int, j int, g_scaled long"
    )


def covariance_matrix(emb: DataFrame, col: str = "embedding", dim: int = 64) -> DataFrame:
    """Sample covariance of the embedding columns: rows
    (i, j, n, cov) for 1-based i ≤ j.

    cov_ij = (Σ x_i x_j − S_i S_j / n) / (n − 1), with the cross-moment
    Σ x_i x_j from the quantized integer Gram partials (exact,
    order-independent; DECIMAL(38,0) cross-partition sum, descaled
    once at the end) and the column sums S_i DECIMAL-exact from one
    posexplode aggregate. n rides as a 1-row broadcast contract
    scalar."""
    g = (
        gram_partials(emb, col, dim)
        .groupBy("i", "j")
        .agg(
            (
                F.sum(F.col("g_scaled").cast("decimal(38,0)")).cast("double")
                / F.lit(GRAM_SCALE)
            ).alias("g")
        )
    )
    sums = (
        emb.select(F.posexplode(col).alias("p", "x"))
        .groupBy((F.col("p") + 1).alias("i"))
        .agg(F.sum(F.col("x").cast("decimal(28,8)")).cast("double").alias("s"))
    )
    n_row = emb.agg(F.count(F.lit(1)).cast("double").alias("n"))
    si = sums.select(F.col("i").alias("__si_i"), F.col("s").alias("s_i"))
    sj = sums.select(F.col("i").alias("__sj_j"), F.col("s").alias("s_j"))
    return (
        g.join(F.broadcast(si), g["i"] == si["__si_i"])
        .join(F.broadcast(sj), g["j"] == sj["__sj_j"])
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            F.col("n").cast("long").alias("n"),
            (
                (F.col("g") - F.col("s_i") * F.col("s_j") / F.col("n"))
                / (F.col("n") - 1.0)
            ).alias("cov"),
        )
    )
