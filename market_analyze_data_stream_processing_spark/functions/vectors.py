"""Vector scalar expressions — JVM-side array math, no Python UDFs.

The reference stores 384-dim MiniLM embeddings in ChromaDB and queries
by cosine (rag_engine.py:154, 212-217). Here vectors are plain
``array<float>`` columns and similarity is a Catalyst expression:
``aggregate(zip_with(a, b, *), 0.0, +)`` — a sequential left fold, which
keeps the float semantics deterministic and oracle-comparable.
"""

from __future__ import annotations

from collections.abc import Sequence

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
