"""Vector math: the one owner of the engine's dot-product fold.

The reference stores 384-dim MiniLM embeddings in ChromaDB and queries
by cosine (rag_engine.py:154, 212-217). Here vectors are plain
``array<float>`` columns, and every inner product the oracle checks is
one float op sequence: DuckDB's ``list_inner_product``, the left fold
``acc = acc + x_d·y_d`` over dims in order, starting at 0.0.

Two twins compute it, and each element of one equals the other's bit
for bit:

- :func:`dot`, the JVM side: ``aggregate(zip_with(a, b, *), 0.0, +)``,
  a Catalyst expression;
- :func:`fold_dots` / :func:`fold_sumsq`, the Arrow side (numpy inside
  ``mapInPandas`` / ``applyInPandas`` kernels and driver-side
  constants). They run the same multiply-then-add per dim, sequential
  across dims and vectorized across rows and columns. No BLAS: its
  blocked summation reorders the adds and can flip the last ulp.

Zero norms, ties and sentinels are the callers' policy, not the fold's.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import cache


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def lit_vector(values: Sequence[float]) -> Column:
    """An ``array<double>`` literal, memoized per float tuple (``cache``
    kind ``lit``). One 64-dim literal costs ~65 Py4J round trips, and the
    kNN/ANN/retrieval family rebuilds the same query-vector and
    hyperplane literals on every plan build. It is also called with
    data-dependent vectors (fresh k-means centroids every run), which
    the kind's LRU bound sheds."""
    key = tuple(float(v) for v in values)
    return cache.get("lit", key, lambda: F.array(*[F.lit(v) for v in key]))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic accumulation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def fold_dots(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """The ``(n, k)`` float64 matrix of :func:`dot` between every row of
    ``X`` (n×d) and every row of ``C`` (k×d)."""
    G = np.zeros((len(X), len(C)))
    for d in range(X.shape[1]):
        G += np.multiply.outer(X[:, d], C[:, d])
    return G


def fold_sumsq(X: np.ndarray) -> np.ndarray:
    """:func:`dot` of every row of ``X`` with itself (squared norms)."""
    acc = np.zeros(len(X))
    for d in range(X.shape[1]):
        acc += X[:, d] * X[:, d]
    return acc


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    """cosine = dot/(||a||*||b||) — matches DuckDB's list_inner_product
    composition so the oracle can mirror it exactly. A zero-norm vector
    leaves cosine undefined: NULL, the same result DuckDB's NULL-on-/0
    produces, where ANSI Spark would otherwise DIVIDE_BY_ZERO (a zero
    or all-null embedding is reachable data at corpus scale)."""
    den = l2_norm(a) * l2_norm(b)
    return F.when(den != 0, dot(a, b) / den)
