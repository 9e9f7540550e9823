"""Covariance-matrix operator: numpy ground truth and partition
invariance (oracle differential covers the corpus)."""

from __future__ import annotations

import numpy as np

from market_analyze_data_stream_processing_spark.operators.linalg import (
    covariance_matrix,
)


def test_covariance_matches_numpy_and_partitioning(spark):
    rng = np.random.RandomState(7)
    X = rng.randn(40, 5).astype(np.float32)
    rows = [(i, [float(v) for v in X[i]]) for i in range(40)]
    ref = np.cov(X.astype(np.float64), rowvar=False, ddof=1)
    # the 1e-8 product-grid quantization bounds |cov error| by
    # rows·0.5e-8/(n-1) ~ 5e-9 here; correctness bar is 1e-7
    by_parts = {}
    for parts in (1, 6, 7):
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).repartition(parts)
        out = covariance_matrix(df, "embedding", dim=5).collect()
        assert len(out) == 15  # upper triangle of 5x5
        for r in out:
            i, j = r["i"] - 1, r["j"] - 1
            assert r["n"] == 40
            assert abs(r["cov"] - ref[i, j]) < 1e-7, (i, j, parts)
        by_parts[parts] = sorted(
            (r["i"], r["j"], r["n"], r["cov"]) for r in out
        )
    # reproducibility contract (the r08 driver-hash lesson): the
    # quantized integer Gram makes the output BYTE-IDENTICAL under any
    # partitioning — not merely close.
    assert by_parts[1] == by_parts[6] == by_parts[7]


def test_covariance_refuses_non_finite_components(spark):
    """Non-finite policy (round-9 ADVICE): floor(NaN*1e8+0.5).astype
    (int64) is undefined and would silently poison the whole matrix
    while the DuckDB oracle errors — the kernel must refuse loudly
    instead. NULL components arrive as NaN and hit the same gate."""
    import pytest

    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [float("nan"), 0.5, 0.5]),
        (2, [0.1, 0.2, 0.3]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="non-finite"):
        covariance_matrix(df, "embedding", dim=3).collect()
    rows_null = [(0, [1.0, None, 3.0]), (1, [0.1, 0.2, 0.3])]
    df_null = spark.createDataFrame(
        rows_null, "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="non-finite"):
        covariance_matrix(df_null, "embedding", dim=3).collect()
