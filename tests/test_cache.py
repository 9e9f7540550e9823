"""The process-level cache's three policies (restart safety, staleness,
LRU size bound), pinned once for every kind that uses it."""

from __future__ import annotations

import types

import pytest

from market_analyze_data_stream_processing_spark import cache


@pytest.fixture
def kind(spark):
    """A scratch kind under a live SparkContext, dropped afterwards."""
    yield "test-kind"
    cache.clear("test-kind")


def _counting(value):
    calls = []

    def build():
        calls.append(1)
        return value

    return build, calls


def test_changed_application_id_misses(kind, monkeypatch):
    build, calls = _counting("v")
    cache.get(kind, "k", build)
    cache.get(kind, "k", build)
    assert len(calls) == 1
    # A restarted context: a new SparkContext object with a new id.
    from pyspark import SparkContext

    with monkeypatch.context() as m:
        m.setattr(
            SparkContext, "_active_spark_context",
            types.SimpleNamespace(applicationId="app-restarted"),
        )
        cache.get(kind, "k", build)
        assert len(calls) == 2
        assert cache.tokens(kind) == {"k": None}
    # back on the live context, its own entry is still served
    cache.get(kind, "k", build)
    assert len(calls) == 2


def test_token_change_replaces_entry_under_same_key(kind):
    assert cache.get(kind, "k", lambda: "old", token=1) == "old"
    assert cache.get(kind, "k", lambda: "new", token=2) == "new"
    assert cache.tokens(kind) == {"k": 2}
    assert cache.get(kind, "k", lambda: "unused", token=2) == "new"


def test_hot_key_survives_overflow(kind, monkeypatch):
    monkeypatch.setattr(cache, "MAX_ENTRIES", 3)
    for key in ("hot", "a", "b"):
        cache.get(kind, key, lambda: key)
    cache.get(kind, "hot", lambda: "unused")  # a hit makes it most recent
    cache.get(kind, "c", lambda: "c")
    assert list(cache.tokens(kind)) == ["b", "hot", "c"]


def test_none_build_is_not_stored(kind):
    build, calls = _counting(None)
    assert cache.get(kind, "k", build) is None
    assert cache.get(kind, "k", build) is None
    assert len(calls) == 2
    assert cache.tokens(kind) == {}


def test_invalidate_ivf_index_clears_only_index_kinds(spark):
    """Clearing kinds leaves the others alone: the bench's per-query
    reset drops the index kinds and keeps every build memo warm."""
    from market_analyze_data_stream_processing_spark.operators.similarity import (
        invalidate_ivf_index,
    )

    key = ("test-invalidate",)
    kept = ("table", "plan", "row_groups", "lit", "kernel", "probe", "pq_book")
    for kind in ("ivf", "seed_cells", *kept):
        cache.get(kind, key, lambda: "v")
    invalidate_ivf_index()
    assert cache.tokens("ivf") == {} and cache.tokens("seed_cells") == {}
    assert all(key in cache.tokens(kind) for kind in kept)


def test_unpin_releases_only_its_frames(spark):
    """unpin releases each frame's own localCheckpoint pin and leaves
    every other pin alone; a frame without a pin is skipped. unpin_all
    releases the rest."""

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persistent()
    mine = spark.range(10).localCheckpoint(eager=False)
    theirs = spark.range(5).localCheckpoint()
    assert len(persistent() - before) == 2
    cache.unpin(mine, spark.range(3))
    assert len(persistent() - before) == 1
    assert theirs.count() == 5
    cache.unpin_all(spark)
    assert persistent() == set()
