"""Streaming pipeline replay (SURVEY §2.1 S2–S7, §2.9 X1–X8): fixture
JSON messages → file stream → topic dispatch → foreachBatch upserts →
assert prices/docs table state, retention, watermark dedup, heartbeat."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from market_analyze_data_stream_processing_spark.operators.analytics import keep_last
from market_analyze_data_stream_processing_spark.sources.json_topics import (
    clean_metadata,
    drop_empty_titles,
    synthesize_doc_id,
)
from market_analyze_data_stream_processing_spark.streaming.heartbeat import (
    HeartbeatListener,
    health_status,
)
from market_analyze_data_stream_processing_spark.streaming.ingest import (
    TOPICS,
    file_json_stream,
    split_by_topic,
)
from market_analyze_data_stream_processing_spark.streaming.upsert import (
    keep_last_merge,
    retention_filter,
    stream_upsert_parquet,
    upsert_parquet,
)

NOW = 1700000000.0


def _msg(topic, key, **payload):
    return json.dumps({"topic": topic, "key": key, "value": json.dumps(payload)})


@pytest.fixture()
def fixture_dir(tmp_path):
    msgs = [
        # two bars for MC.PA, one date re-sent with a corrected close (keep-last)
        _msg(TOPICS["history"], "MC.PA", ticker="MC.PA", date="2024-01-01",
             Open=700.0, High=710.0, Low=695.0, Close=705.0, Volume=1000),
        _msg(TOPICS["history"], "MC.PA", ticker="MC.PA", date="2024-01-02",
             Open=705.0, High=720.0, Low=700.0, Close=715.0, Volume=1200),
        _msg(TOPICS["history"], "MC.PA", ticker="MC.PA", date="2024-01-01",
             Open=700.0, High=712.0, Low=695.0, Close=708.0, Volume=1100),
        # docs: news + technical (upsert key) re-sent twice + expired summary
        _msg(TOPICS["news"], "MC.PA", ticker="MC.PA", title="LVMH gains", id="n1",
             type="news", publish_time=NOW - 1000),
        _msg(TOPICS["news"], "MC.PA", ticker="MC.PA",
             title="Technical Analysis MC.PA (BEARISH)", type="technical",
             publish_time=NOW - 900, mean_50=100.0),
        _msg(TOPICS["news"], "MC.PA", ticker="MC.PA",
             title="Technical Analysis MC.PA (BULLISH)", type="technical",
             publish_time=NOW - 100, mean_50=105.0),
        _msg(TOPICS["daily"], "MC.PA", ticker="MC.PA", title="Old summary",
             type="daily_summary", publish_time=NOW - 40 * 86400),
        _msg(TOPICS["daily"], "MC.PA", ticker="MC.PA", title="Fresh summary",
             type="daily_summary", publish_time=NOW - 86400),
    ]
    d = tmp_path / "msgs"
    d.mkdir()
    (d / "batch0.json").write_text("\n".join(msgs))
    return str(d)


def test_replay_to_prices_and_docs_tables(spark, fixture_dir, tmp_path):
    raw = file_json_stream(spark, fixture_dir)
    streams = split_by_topic(raw)

    prices_path = str(tmp_path / "prices")
    docs_path = str(tmp_path / "docs")

    q1 = stream_upsert_parquet(
        streams["history"], prices_path, keys=["ticker", "date"], order=[],
        checkpoint=str(tmp_path / "cp1"), trigger_once=True,
    )

    docs = drop_empty_titles(streams["docs"])
    docs = synthesize_doc_id(docs)
    docs = clean_metadata(docs, sentiment=F.lit(0.0))
    q2 = stream_upsert_parquet(
        docs, docs_path, keys=["id"], order=[],
        checkpoint=str(tmp_path / "cp2"),
        retention_predicate=retention_filter(NOW),
        trigger_once=True,
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    prices = spark.read.parquet(prices_path)
    got = {(r["ticker"], r["date"]): r for r in prices.collect()}
    assert len(got) == 2  # keep-last collapsed the re-sent bar
    assert got[("MC.PA", "2024-01-01")]["Close"] == 708.0  # corrected value won

    docs_t = spark.read.parquet(docs_path)
    by_id = {r["id"]: r for r in docs_t.collect()}
    # technical upsert key: one live row, latest content (X7)
    assert by_id["LATEST_TECH_MC.PA"]["doc"].endswith("(BULLISH)")
    # retention: 40-day-old summary dropped, fresh one kept (X6)
    assert not any("Old summary" in (r["doc"] or "") for r in by_id.values())
    assert any("Fresh summary" in (r["doc"] or "") for r in by_id.values())
    assert "NEWS_MC.PA_n1" in by_id


def test_upsert_parquet_idempotent_replay(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([("A", 1, 10.0), ("A", 2, 20.0)], ["k", "seq", "v"])
    upsert_parquet(spark, df, path, keys=["k"], order=["seq"])
    upsert_parquet(spark, df, path, keys=["k"], order=["seq"])  # replayed batch
    out = spark.read.parquet(path).collect()
    assert len(out) == 1 and out[0]["v"] == 20.0


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100 TB contract: a merge must not read or rewrite bucket
    partitions its keys don't hash into — untouched bucket files stay
    byte-identical (same inode content, same mtime), and the pruned read
    shows a partition filter, not a full scan."""
    import glob
    import os

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(f"k{i}", 1, float(i)) for i in range(40)], ["k", "seq", "v"]
    )
    upsert_parquet(spark, base, path, keys=["k"], order=["seq"], n_buckets=8)

    def snapshot():
        out = {}
        for f in glob.glob(f"{path}/__bucket=*/**/*.parquet", recursive=True):
            st = os.stat(f)
            with open(f, "rb") as fh:
                out[f] = (st.st_mtime_ns, fh.read())
        return out

    before = snapshot()
    # single-key batch → exactly one touched bucket
    inc = spark.createDataFrame([("k0", 2, 99.0)], ["k", "seq", "v"])
    upsert_parquet(spark, inc, path, keys=["k"], order=["seq"], n_buckets=8)
    after = snapshot()

    from market_analyze_data_stream_processing_spark.streaming.upsert import _bucket_expr
    touched = inc.select(_bucket_expr(["k"], 8).alias("b")).first()["b"]
    untouched_before = {f: c for f, c in before.items() if f"__bucket={touched}/" not in f}
    for f, c in untouched_before.items():
        assert after[f] == c, f"untouched partition file rewritten: {f}"
    # the touched bucket did change, and the merge result is correct
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got["k0"] == 99.0 and len(got) == 40
    # pruned read: partition filter on __bucket appears in the scan
    plan = (
        spark.read.parquet(path).where(F.col("__bucket").isin([int(touched)]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "__bucket" in plan.split("PartitionFilters")[1][:200]


def test_upsert_retention_drops_emptied_bucket(spark, tmp_path):
    """A touched bucket whose rows are all retention-trimmed must not
    leave a stale partition directory behind."""
    import os

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("a", 1, 100.0), ("b", 1, 100.0)], ["k", "seq", "ts"]
    )
    upsert_parquet(spark, df, path, keys=["k"], order=["seq"], n_buckets=4)
    # re-send 'a' with an old ts; retention drops everything in its bucket
    inc = spark.createDataFrame([("a", 2, 1.0)], ["k", "seq", "ts"])
    upsert_parquet(
        spark, inc, path, keys=["k"], order=["seq"], n_buckets=4,
        retention_predicate=F.col("ts") > 50.0,
    )
    got = {r["k"] for r in spark.read.parquet(path).collect()}
    assert got == {"b"}
    from market_analyze_data_stream_processing_spark.streaming.upsert import _bucket_expr
    b = inc.select(_bucket_expr(["k"], 4).alias("b")).first()["b"]
    assert not os.path.exists(os.path.join(path, f"__bucket={b}"))


def test_upsert_retention_partial_trim_of_touched_bucket(spark, tmp_path):
    """Retention trims only SOME rows of a touched bucket: the bucket
    survives, its old part files are replaced by dynamic overwrite, and
    the post-write stale-directory sweep must not re-scan the
    pre-overwrite file listing (regression: FILE_NOT_EXIST on the
    replaced part file when the survived set was computed after the
    write)."""
    import os

    path = str(tmp_path / "t")
    # n_buckets=1 forces every key into ONE bucket → any trim is partial
    df = spark.createDataFrame(
        [("a", 1, 1.0), ("b", 1, 100.0)], ["k", "seq", "ts"]
    )
    upsert_parquet(spark, df, path, keys=["k"], order=["seq"], n_buckets=1)
    inc = spark.createDataFrame([("b", 2, 200.0)], ["k", "seq", "ts"])
    upsert_parquet(
        spark, inc, path, keys=["k"], order=["seq"], n_buckets=1,
        retention_predicate=F.col("ts") > 50.0,  # trims 'a', keeps 'b'
    )
    got = {r["k"]: r["ts"] for r in spark.read.parquet(path).collect()}
    assert got == {"b": 200.0}
    assert os.path.exists(os.path.join(path, "__bucket=0"))


def _bucket_snapshot(path):
    import glob
    import os

    return {
        f: (os.stat(f).st_mtime_ns, os.path.getsize(f))
        for f in glob.glob(f"{path}/**/*", recursive=True)
    }


def test_upsert_merge_plans_one_exchange_within_a_three_job_budget(spark, tmp_path):
    """Pins the per-batch job budget of ``upsert_parquet``: a merge into
    an existing table is one map-only touched-bucket scan plus one write
    whose plan has exactly ONE shuffle exchange, between the union and
    the write (``repartition(__bucket)`` serves both the keep-last
    window and the per-bucket files) — three jobs, the write's shuffle
    map stage counting as one under AQE. A regression back to the
    window-then-repartition form shows up as a second Exchange; one
    back to a probe, an eager pin or a schema-inference read shows up
    as extra jobs."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame([(f"k{i}", 1, float(i)) for i in range(40)], ["k", "seq", "v"])
    upsert_parquet(spark, base, path, keys=["k"], order=["seq"], n_buckets=8)

    sc = spark.sparkContext
    group, desc = "upsert-job-budget", "one merge into an existing table"
    sc.setJobGroup(group, desc)
    try:
        inc = spark.createDataFrame(
            [("k0", 2, 99.0), ("k7", 2, 7.5), ("new", 1, 1.0)], ["k", "seq", "v"]
        )
        upsert_parquet(spark, inc, path, keys=["k"], order=["seq"], n_buckets=8)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 3, f"expected 3 jobs per merge, saw {len(jobs)}: {jobs}"

    # the SQL executions of the merge carry the job group's description;
    # the status store keeps the newest ones, oldest first
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    execs = store.executionsList(max(0, n - 20), min(20, n))
    writes = []
    for i in range(execs.length()):
        if execs.apply(i).description() != desc:
            continue
        nodes = store.planGraph(execs.apply(i).executionId()).allNodes()
        names = [nodes.apply(j).name() for j in range(nodes.length())]
        if "WriteFiles" in names:
            writes.append(names)
    assert len(writes) == 1, writes
    names = writes[0]  # pre-order: the write, then its subtree
    assert names.count("Exchange") == 1, names
    assert names.index("WriteFiles") < names.index("Exchange") < names.index("Union"), names
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert len(got) == 41 and got["k0"] == 99.0 and got["k7"] == 7.5 and got["new"] == 1.0


def test_upsert_reads_the_schema_spark_would_infer(spark, tmp_path):
    """The merge passes the reader the schema Spark stored in a parquet
    footer instead of running inference: after merges with a timestamp,
    a decimal and a float array the table reads back with the schema
    Spark infers, and the values survive. A bucket whose file Spark did
    not write (no stored schema) falls back to inference."""
    import datetime as dt
    import os
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = "k string, seq long, ts timestamp, amt decimal(12,2), emb array<float>"
    t0 = dt.datetime(2024, 1, 2, 3, 4, 5)
    path = str(tmp_path / "t")
    rows = [(f"k{i}", 1, t0, Decimal("1.25"), [1.0, float(i)]) for i in range(6)]
    upsert_parquet(spark, spark.createDataFrame(rows, schema), path, keys=["k"],
                   order=["seq"], n_buckets=2)
    inferred = spark.read.parquet(path).schema
    inc = spark.createDataFrame([("k0", 2, t0, Decimal("9.50"), [2.0])], schema)
    upsert_parquet(spark, inc, path, keys=["k"], order=["seq"], n_buckets=2)
    out = spark.read.parquet(path)
    assert out.schema == inferred
    got = {r["k"]: r for r in out.collect()}
    assert len(got) == 6 and got["k0"]["amt"] == Decimal("9.50") and got["k0"]["ts"] == t0

    foreign = str(tmp_path / "foreign")
    os.makedirs(f"{foreign}/__bucket=0")
    pq.write_table(pa.table({"k": ["a"], "seq": [1], "v": [1.0]}),
                   f"{foreign}/__bucket=0/part-0.parquet")
    new = spark.createDataFrame([("a", 2, 5.0)], "k string, seq long, v double")
    upsert_parquet(spark, new, foreign, keys=["k"], order=["seq"], n_buckets=1)
    assert [tuple(r) for r in spark.read.parquet(foreign).select("k", "v").collect()] == [("a", 5.0)]


def test_upsert_empty_batch_writes_nothing(spark, tmp_path):
    """The guarantee the ``isEmpty()`` probe gave, now carried by the
    empty touched-bucket set: a batch whose rows are all filtered out
    leaves an existing table byte-identical, and as the first batch of
    a new path — directly or as a streaming micro-batch — creates no
    table directory."""
    import os

    path = str(tmp_path / "t")
    df = spark.createDataFrame([("a", 1, 10.0), ("b", 1, 20.0)], ["k", "seq", "v"])
    upsert_parquet(spark, df, path, keys=["k"], order=["seq"], n_buckets=4)
    before = _bucket_snapshot(path)
    none = df.where(F.col("v") > 1e9)
    upsert_parquet(spark, none, path, keys=["k"], order=["seq"], n_buckets=4)
    assert _bucket_snapshot(path) == before

    fresh = str(tmp_path / "fresh")
    upsert_parquet(spark, none, fresh, keys=["k"], order=["seq"])
    assert not os.path.exists(fresh)

    src = tmp_path / "in_empty"
    src.mkdir()
    (src / "f.json").write_text(json.dumps({"k": "A", "seq": 1, "v": 10.0}))
    stream = spark.readStream.schema("k string, seq long, v double").json(str(src))
    q = stream_upsert_parquet(
        stream.where(F.col("v") < 0), str(tmp_path / "sfresh"), keys=["k"], order=["seq"],
        checkpoint=str(tmp_path / "cp_empty"), trigger_once=True,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert not os.path.exists(str(tmp_path / "sfresh"))


def test_upsert_releases_its_pin(spark, tmp_path):
    """Every batch is pinned for the merge, so the touched-bucket scan
    and the write read the same rows even when a second evaluation
    would differ (here a random key), and the pin is released
    afterwards: after three merges — direct, or as ``foreachBatch``
    micro-batches — no persistent RDD id they created survives. A
    subset, not equality: Spark's ContextCleaner may release an earlier
    test's abandoned pin meanwhile. The released pins still did their
    job: every key is stored once, with its latest value."""
    sc = spark.sparkContext

    def persistent():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    def batch(seed):
        return spark.range(30).select(
            F.concat(F.lit("k"), (F.rand(seed) * 12).cast("int").cast("string")).alias("k"),
            F.col("id").alias("seq"),
            F.lit(float(seed)).alias("v"),
        )

    assert not batch(0).select("k")._jdf.queryExecution().optimizedPlan().deterministic()
    path = str(tmp_path / "t")
    before = persistent()
    for seed in range(3):
        upsert_parquet(spark, batch(seed), path, keys=["k"], order=["seq"], n_buckets=4)
    assert persistent() <= before
    keys = [r["k"] for r in spark.read.parquet(path).collect()]
    assert len(keys) == len(set(keys))

    src = tmp_path / "in_pin"
    src.mkdir()
    for i in range(3):  # one file per micro-batch
        (src / f"f{i}.json").write_text("\n".join(
            json.dumps({"k": k, "seq": i, "v": float(10 * i + j)})
            for j, k in enumerate(["A", "B", f"C{i}"])
        ))
    stream = (
        spark.readStream.schema("k string, seq long, v double")
        .option("maxFilesPerTrigger", 1).json(str(src))
    )
    before = persistent()
    q = stream_upsert_parquet(
        stream, str(tmp_path / "s"), keys=["k"], order=["seq"],
        checkpoint=str(tmp_path / "cp_pin"), trigger_once=True,
    )
    q.awaitTermination(120)
    assert q.exception() is None and len(q.recentProgress) == 3
    assert persistent() <= before
    got = {r["k"]: r["v"] for r in spark.read.parquet(str(tmp_path / "s")).collect()}
    assert got == {"A": 20.0, "B": 21.0, "C0": 2.0, "C1": 12.0, "C2": 22.0}


def test_keep_last_merge_prefers_incoming_on_higher_seq(spark):
    old = spark.createDataFrame([("A", 1, 10.0)], ["k", "seq", "v"])
    new = spark.createDataFrame([("A", 2, 99.0), ("B", 1, 5.0)], ["k", "seq", "v"])
    out = {r["k"]: r["v"] for r in keep_last_merge(old, new, ["k"], ["seq"]).collect()}
    assert out == {"A": 99.0, "B": 5.0}


def test_watermark_dedup_drops_repeated_ids(spark, tmp_path):
    from market_analyze_data_stream_processing_spark.streaming.ingest import (
        with_watermark_dedup,
    )

    d = tmp_path / "in"
    d.mkdir()
    rows = [
        {"id": "a", "ts": "2024-01-01 00:00:00"},
        {"id": "a", "ts": "2024-01-01 00:00:30"},  # duplicate id within watermark
        {"id": "b", "ts": "2024-01-01 00:01:00"},
    ]
    (d / "f.json").write_text("\n".join(json.dumps(r) for r in rows))
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField("id", StringType()), StructField("ts", StringType())])
    stream = (
        spark.readStream.schema(schema).json(str(d))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    dedup = with_watermark_dedup(stream, ["id"], "ts", "10 minutes")
    out_path = str(tmp_path / "out")
    q = (
        dedup.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_path).collect()
    assert sorted(r["id"] for r in got) == ["a", "b"]


def test_heartbeat_health_classification(tmp_path):
    p = str(tmp_path / "hb.txt")
    assert health_status(p) == "OFFLINE"  # missing file
    with open(p, "w") as f:
        f.write(str(NOW))
    assert health_status(p, NOW + 60) == "ONLINE"
    assert health_status(p, NOW + 300) == "LAGGING"
    assert health_status(p, NOW + 8000) == "OFFLINE"
    with open(p, "w") as f:
        f.write("garbage")
    assert health_status(p, NOW) == "OFFLINE"


def test_heartbeat_listener_writes_on_progress(spark, tmp_path):
    p = str(tmp_path / "hb.txt")
    listener = HeartbeatListener(p)
    spark.streams.addListener(listener)
    try:
        stream = spark.readStream.format("rate").option("rowsPerSecond", "10").load()
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .start()
        )
        deadline = time.time() + 60
        ok = False
        while time.time() < deadline:
            if health_status(p) == "ONLINE":
                ok = True
                break
            time.sleep(0.5)
        q.stop()
        assert ok
    finally:
        spark.streams.removeListener(listener)


def test_windowed_agg_with_watermark_drops_late_data(spark, tmp_path):
    """X2/X5: tumbling window + watermark; an event older than the
    watermark at its arrival is dropped from the aggregation."""
    d = tmp_path / "in2"
    d.mkdir()
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    schema = StructType([
        StructField("k", StringType()),
        StructField("ts", StringType()),
        StructField("v", DoubleType()),
    ])

    def run_once():
        stream = (
            spark.readStream.schema(schema).json(str(d))
            .withColumn("ts", F.to_timestamp("ts"))
            .withWatermark("ts", "5 minutes")
            .groupBy(F.window("ts", "10 minutes"), F.col("k"))
            .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
        )
        q = (
            stream.writeStream.format("parquet").outputMode("append")
            .option("path", str(tmp_path / "out2"))
            .option("checkpointLocation", str(tmp_path / "cp3"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    # run 1 advances the watermark to 10:54 (10:59 - 5 min); the
    # checkpoint carries it into run 2, where a 10:00:30 event is late
    # beyond the watermark => dropped from its (already closed) window
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in [
        {"k": "A", "ts": "2024-01-01 10:00:00", "v": 1.0},
        {"k": "A", "ts": "2024-01-01 10:59:00", "v": 2.0},
    ]))
    run_once()
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in [
        {"k": "A", "ts": "2024-01-01 10:00:30", "v": 100.0},  # late: dropped
        {"k": "A", "ts": "2024-01-01 11:30:00", "v": 3.0},    # advances time
        {"k": "A", "ts": "2024-01-01 12:30:00", "v": 4.0},    # closes 11:30 win
    ]))
    run_once()
    rows = spark.read.parquet(str(tmp_path / "out2")).collect()
    by_win = {}
    for r in rows:
        key = r["window"].start.strftime("%H:%M")
        by_win.setdefault(key, []).append(r)
    # the 10:00 window closed with ONLY the on-time event; late v=100 dropped
    assert len(by_win["10:00"]) == 1
    assert by_win["10:00"][0]["total"] == 1.0 and by_win["10:00"][0]["n"] == 1
    assert by_win["11:30"][0]["total"] == 3.0  # on-time event flowed through


def test_salted_join_equals_plain_join(spark):
    from market_analyze_data_stream_processing_spark.operators.skew import salted_join

    # one massively hot key + normal keys
    big = spark.createDataFrame(
        [("HOT", i, float(i)) for i in range(500)]
        + [("k" + str(i % 7), i, float(i)) for i in range(100)],
        ["key", "seq", "v"],
    )
    small = spark.createDataFrame(
        [("HOT", "hotmeta"), ("k1", "m1"), ("k2", "m2")], ["key", "meta"]
    )
    plain = big.join(small, "key").groupBy("key").count()
    salted = salted_join(big, small, "key", n_salts=8).groupBy("key").count()
    assert {(r["key"], r["count"]) for r in plain.collect()} == {
        (r["key"], r["count"]) for r in salted.collect()
    }


def test_stream_upsert_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once effect across restarts: run availableNow, add a file,
    rerun with the SAME checkpoint — only the new file is merged and
    keep-last still holds."""
    d = tmp_path / "in3"
    d.mkdir()
    path = str(tmp_path / "tbl")

    def run():
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType,
        )

        schema = StructType([
            StructField("k", StringType()),
            StructField("seq", LongType()),
            StructField("v", DoubleType()),
        ])
        stream = spark.readStream.schema(schema).json(str(d))
        q = stream_upsert_parquet(
            stream, path, keys=["k"], order=["seq"],
            checkpoint=str(tmp_path / "cp4"), trigger_once=True,
        )
        q.awaitTermination(120)

    (d / "f1.json").write_text(json.dumps({"k": "A", "seq": 1, "v": 10.0}))
    run()
    assert spark.read.parquet(path).count() == 1
    (d / "f2.json").write_text(
        "\n".join([
            json.dumps({"k": "A", "seq": 2, "v": 20.0}),
            json.dumps({"k": "B", "seq": 1, "v": 5.0}),
        ])
    )
    run()
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"A": 20.0, "B": 5.0}


def test_corrupt_messages_are_dropped_not_fatal(spark, tmp_path):
    """P3/S2 robustness (consumer.py:228-232 JSON error handling): a
    malformed value yields NULL parse -> guarded out; the stream lives."""
    d = tmp_path / "bad"
    d.mkdir()
    lines = [
        json.dumps({"topic": TOPICS["news"], "key": "A",
                    "value": json.dumps({"ticker": "A", "title": "ok",
                                         "type": "news", "publish_time": NOW})}),
        json.dumps({"topic": TOPICS["news"], "key": "B", "value": "{not json"}),
        json.dumps({"topic": TOPICS["news"], "key": "C", "value": None}),
    ]
    (d / "m.json").write_text("\n".join(lines))
    raw = file_json_stream(spark, str(d))
    docs = drop_empty_titles(split_by_topic(raw)["docs"])
    out_path = str(tmp_path / "outbad")
    q = (
        docs.writeStream.format("parquet").option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "cpbad"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out_path).collect()
    assert [r["title"] for r in rows] == ["ok"]


def test_streaming_hll_partials_merge_to_exact_counts(spark, tmp_path):
    """Streaming twin of q_sketch_reaggregation (the 100 TB telemetry
    shape): the STREAM emits one storable HLL sketch binary per closed
    (window, event_type) group; a SEPARATE batch job later union-merges
    the stored partials into per-type distinct counts without ever
    re-reading raw events. At these cardinalities the DataSketches HLL
    is in exact (sparse) mode, so the merged estimates must equal the
    exact distinct counts — including users spanning multiple windows,
    which double-counting (the bug sketches exist to avoid) would
    inflate."""
    d = tmp_path / "sk_in"
    d.mkdir()
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("event_type", StringType()),
        StructField("ts", StringType()),
        StructField("user_id", LongType()),
    ])
    rows = [
        {"event_type": "click", "ts": "2024-01-01 10:01:00", "user_id": 1},
        {"event_type": "click", "ts": "2024-01-01 10:02:00", "user_id": 2},
        {"event_type": "click", "ts": "2024-01-01 10:02:30", "user_id": 2},
        {"event_type": "view", "ts": "2024-01-01 10:03:00", "user_id": 7},
        # next window; user 1 repeats ACROSS windows -> two partials
        # both contain them, union must still count them once
        {"event_type": "click", "ts": "2024-01-01 10:11:00", "user_id": 1},
        {"event_type": "click", "ts": "2024-01-01 10:12:00", "user_id": 3},
        # closes both windows past the watermark
        {"event_type": "click", "ts": "2024-01-01 11:00:00", "user_id": 9},
    ]
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))
    from market_analyze_data_stream_processing_spark.operators.sketches import (
        hll_merge_estimate,
        hll_partials,
    )

    stream = hll_partials(
        spark.readStream.schema(schema).json(str(d))
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "5 minutes"),
        "user_id",
        [F.window("ts", "10 minutes"), F.col("event_type")],
    )
    q = (
        stream.writeStream.format("parquet").outputMode("append")
        .option("path", str(tmp_path / "sk_out"))
        .option("checkpointLocation", str(tmp_path / "sk_cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    partials = spark.read.parquet(str(tmp_path / "sk_out"))
    # the stream emitted closed windows only (the 11:00 event is still
    # open), one sketch row per (window, type)
    assert partials.count() == 3
    merged = {
        r["event_type"]: r["users"]
        for r in hll_merge_estimate(
            partials, ["event_type"], out_col="users"
        ).collect()
    }
    assert merged == {"click": 3, "view": 1}  # users 1,2,3 / user 7
