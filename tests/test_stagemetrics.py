"""Pins the stagemetrics contract bench.py's attribution relies on:

- AppStatusStore is populated with spark.ui.enabled=false (the test
  session disables the UI, like the bench session);
- stageList returns stages NEWEST-FIRST (strictly descending stageId),
  which is what makes max_stage_id O(1) and the metrics_since
  break-at-floor sound;
- the [floor, now] bracket attributes exactly one query's stages:
  a parquet scan + shuffle shows input and shuffle bytes, CPU time,
  and completed tasks; an empty bracket shows all-zero totals.
"""

from __future__ import annotations

import os

from market_analyze_data_stream_processing_spark.stagemetrics import (
    FIELDS,
    max_stage_id,
    metrics_since,
)

SF = "/root/testdata/sf0.001"


def test_stage_seq_is_newest_first(spark):
    from market_analyze_data_stream_processing_spark.stagemetrics import _stage_seq

    for _ in range(3):
        spark.range(1000).selectExpr("sum(id % 3) s").collect()
    seq = _stage_seq(spark)
    n = seq.length()
    assert n >= 3
    ids = [seq.apply(i).stageId() for i in range(n)]
    assert ids == sorted(ids, reverse=True), (
        "stageList must be newest-first for the O(1) floor protocol"
    )
    assert max_stage_id(spark) == ids[0]


def test_metrics_bracket_one_query(spark):
    floor_before = max_stage_id(spark)
    assert isinstance(floor_before, int)
    df = (
        spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
        .groupBy("l_returnflag")
        .count()
    )
    df.write.format("noop").mode("overwrite").save()
    m = metrics_since(spark, floor_before + 1)
    assert m is not None and set(m) == set(FIELDS)
    assert m["stages"] >= 2, "scan + shuffled aggregate = at least 2 stages"
    assert m["tasks"] >= 2
    assert m["input_bytes"] > 0, "the parquet scan must report input bytes"
    assert m["shuffle_write_bytes"] > 0 and m["shuffle_read_bytes"] > 0
    assert m["cpu_ms"] > 0 and m["run_ms"] > 0
    assert m["gc_ms"] >= 0
    # an empty bracket — nothing ran since the snapshot — is all zeros
    empty = metrics_since(spark, max_stage_id(spark) + 1)
    assert empty is not None
    assert all(v == 0 for v in empty.values())


def test_skipped_stages_are_counted_apart(spark):
    """An RDD counted twice reuses its shuffle output: the second job's
    map stage is SKIPPED, counted under stages_skipped, not stages."""
    rdd = (
        spark.sparkContext.parallelize(range(100), 2)
        .map(lambda x: (x % 3, 1))
        .reduceByKey(lambda a, b: a + b)
    )
    floor = max_stage_id(spark)
    rdd.count()
    first = metrics_since(spark, floor + 1)
    assert (first["stages"], first["stages_skipped"]) == (2, 0)
    floor = max_stage_id(spark)
    rdd.count()
    second = metrics_since(spark, floor + 1)
    assert (second["stages"], second["stages_skipped"]) == (1, 1)
    assert second["tasks"] == 2  # the reduce stage's tasks only


def test_bench_top_warns_when_it_times_fewer(monkeypatch, capsys):
    """--top N says on stderr when it cannot time N ranked queries, or
    when a registered query is missing from BENCH_DETAIL.json's ranking
    (it could never be picked)."""
    import bench

    names = list(bench.select_queries(["--top", "3"]))
    capsys.readouterr()
    # a registry of three ranked queries: every one of them is ranked
    monkeypatch.setattr(bench, "QUERIES", {n: bench.QUERIES[n] for n in names})
    assert list(bench.select_queries(["--top", "2"])) == names[:2]
    assert capsys.readouterr().err == ""
    assert list(bench.select_queries(["--top", "5"])) == names
    assert "timing 3 queries" in capsys.readouterr().err
    monkeypatch.setitem(bench.QUERIES, "q_registered_later", bench.QUERIES[names[0]])
    assert list(bench.select_queries(["--top", "3"])) == names
    assert "1 registered queries are not ranked" in capsys.readouterr().err


def test_bench_probe_failure_degrades_to_raw_only():
    """ADVICE round-13: a probe-station failure (missing corpus, probe
    bug) must yield null calib fields and factor-1.0 normalization,
    never abort the suite the way a query failure deliberately
    doesn't."""
    import bench

    def boom(_spark):
        raise RuntimeError("no corpus")

    assert bench.probe_safe(boom, None) is None
    assert bench.probe_safe(lambda s: 0.5, None) == 0.5
    # the pass_factor fallback shape bench.main() applies
    calib = [None, 0.6, 0.59]
    factors = [
        (calib[p] + calib[p + 1]) / 2.0 / 0.59
        if calib[p] is not None and calib[p + 1] is not None
        else 1.0
        for p in range(2)
    ]
    assert factors[0] == 1.0 and abs(factors[1] - 1.0085) < 1e-3


def test_bench_attrib_classification():
    """tools/bench_attrib classifies wall moves from executor metrics:
    flat cpu+bytes = HOST (the r11-13 drift class), cpu moving with
    wall = PLAN, a gc-dominated move = GC."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.bench_attrib import classify

    base = {
        "cpu_ms": 1000.0, "run_ms": 1100, "gc_ms": 10,
        "input_bytes": 10_000_000, "output_bytes": 0,
        "shuffle_read_bytes": 2_000_000, "shuffle_write_bytes": 2_000_000,
        "tasks": 8, "stages": 4,
    }
    host = dict(base)  # same work, wall 1.0 -> 1.6
    assert classify(base, host, 1.0, 1.6) == "HOST"
    plan = dict(base, cpu_ms=1600.0)
    assert classify(base, plan, 1.0, 1.6) == "PLAN"
    more_bytes = dict(base, input_bytes=20_000_000)
    assert classify(base, more_bytes, 1.0, 1.6) == "PLAN"
    # cpu+bytes co-moving IS the archetypal plan change -> PLAN
    both = dict(base, cpu_ms=1600.0, input_bytes=20_000_000)
    assert classify(base, both, 1.0, 1.6) == "PLAN"
    # gc is judged vs the TASK-SUMMED run delta (both task-summed), so
    # a gc-dominated run move classifies GC even when wall moved more
    gc = dict(base, gc_ms=810, run_ms=2100)
    assert classify(base, gc, 1.0, 1.6) == "GC"
    # a small gc blip during a host-steal wall move must NOT flip to GC
    blip = dict(base, gc_ms=110)
    assert classify(base, blip, 1.0, 1.6) == "HOST"
    mixed = dict(base, cpu_ms=1600.0, gc_ms=810, run_ms=2100)
    assert classify(base, mixed, 1.0, 1.6) == "MIXED"
