"""Process-level caches: one mechanism for every build-once object.

The engine reuses objects that are expensive to build and cheap to
keep: lazy scan plans and shared plan prefixes, parquet row-group
counts, unresolved expression trees, and the retrieval indexes (IVF
centroids, the seed-cell quantizer, the PQ codebook, the probe
vector). Each lives under a *kind* (a short string naming what is
cached) and a caller key, and every kind follows the same three
policies:

- **Restart safety.** The live SparkContext's applicationId is part of
  every key. Cached Columns and DataFrames hold Py4J references into
  one JVM; a context restarted in the same Python process gets a new
  applicationId, so it can never be served a dead reference (object
  ids can be reused, applicationIds cannot). The id is read once per
  SparkContext object, so a lookup costs no Py4J round trip.
- **Staleness.** A lookup may carry a token: the ``(mtime_ns, size)``
  of the files the object was built from (:func:`file_token`) or an
  explicit version. When the stored token differs, the entry is
  rebuilt and replaced under the same key, so a rewritten input never
  serves a stale object and superseded versions do not pile up.
- **Size bound.** Each kind is an LRU of at most :data:`MAX_ENTRIES`
  entries; a hit moves its key to the most recent end.

A build that returns ``None`` is not stored: a missing probe row or an
empty corpus is re-checked on the next lookup.

:func:`clear` drops whole kinds. ``operators.similarity.
invalidate_ivf_index`` clears only the two index kinds (``ivf`` and
``seed_cells``): benchmarks call it after every query so each timed
query rebuilds its index end to end, while the expression, probe and
plan kinds stay warm. Clearing those too would re-pay several thousand
Py4J round trips per ANN build, a cost the queries do not have in a
long-lived session.

Pin lifecycle. A ``localCheckpoint`` pin lives in the block manager
until it is released. An operator releases the intermediates it pins
with :func:`unpin`, before it returns or once its write is done; what
it returns (and hands to its caller, who then owns it) may stay
pinned. A harness releases the rest between queries with
:func:`unpin_all`. :func:`unpin` goes through the pin's own RDD, the
one under the frame's ``LogicalRDD``, never through an id diff of
``getPersistentRDDs()`` around a call: registration is synchronous at
the ``localCheckpoint`` call, but two queries of one session (the two
sinks of a consumer cycle) pin at the same time, and a diff can catch
the other query's pin.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from collections.abc import Callable, Hashable
from typing import TypeVar

T = TypeVar("T")

#: Entries kept per kind before the least recently used one is dropped.
MAX_ENTRIES = 512

_KINDS: dict[str, OrderedDict] = {}
_APP: list = [None, None]  # [SparkContext object, its applicationId]


def _app_id() -> str | None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    # Holding the context object keeps its id from being reused, so an
    # identity match means the same context and the same applicationId.
    if _APP[0] is not sc:
        _APP[:] = [sc, sc.applicationId]
    return _APP[1]


def file_token(*paths: str) -> tuple:
    """``(mtime_ns, size)`` per path, ``None`` for a missing one. Spark
    rewrites a parquet file or directory as a new inode, so the token
    moves on every overwrite; an in-place edit that keeps both mtime and
    size is invisible, as it is to a metastore's cached file index."""
    out = []
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:
            out.append(None)
        else:
            out.append((st.st_mtime_ns, st.st_size))
    return tuple(out)


def get(kind: str, key: Hashable, build: Callable[[], T], token: Hashable = None) -> T:
    """The cached value of ``kind``/``key`` whose token equals ``token``,
    else ``build()``, stored unless it is ``None``."""
    entries = _KINDS.setdefault(kind, OrderedDict())
    full = (_app_id(), key)
    hit = entries.pop(full, None)
    if hit is not None and hit[0] == token:
        entries[full] = hit
        return hit[1]
    value = build()
    if value is not None:
        entries[full] = (token, value)
        if len(entries) > MAX_ENTRIES:
            entries.popitem(last=False)
    return value


def tokens(kind: str) -> dict:
    """``{key: token}`` of the live context's entries of ``kind``, least
    recently used first."""
    app = _app_id()
    return {k: t for (a, k), (t, _v) in _KINDS.get(kind, {}).items() if a == app}


def clear(*kinds: str) -> None:
    """Drop every entry of the given kinds."""
    for kind in kinds:
        _KINDS.pop(kind, None)


def unpin(*frames) -> None:
    """Release each frame's ``localCheckpoint`` pin through its own RDD.
    A frame whose plan is not a ``LogicalRDD`` holds no pin: skipped."""
    for df in frames:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)


def unpin_all(spark) -> None:
    """Release every persistent RDD of the session: the sweep a harness
    runs between queries."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(m.keySet().toArray()):
        m.get(rid).unpersist()
