"""applyInPandasWithState operators: latest-per-key with bounded state (X7),
the streaming twins, and a restart/replay differential over all nine."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from market_analyze_data_stream_processing_spark.streaming.stateful import (
    latest_per_key_stateful,
)

IN_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("value", DoubleType()),
        StructField("payload", StringType()),
    ]
)


def test_latest_per_key_stateful_across_batches(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    # batch 0: two keys; batch 1: A advances, stale A ignored, C appears
    (d / "b0.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"key": "A", "seq": 1, "value": 10.0, "payload": "a1"},
                {"key": "A", "seq": 3, "value": 30.0, "payload": "a3"},
                {"key": "B", "seq": 1, "value": 5.0, "payload": "b1"},
            ]
        )
    )
    (d / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"key": "A", "seq": 2, "value": 20.0, "payload": "stale"},
                {"key": "A", "seq": 9, "value": 90.0, "payload": "a9"},
                {"key": "C", "seq": 1, "value": 1.0, "payload": "c1"},
            ]
        )
    )
    stream = (
        spark.readStream.schema(IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    out = latest_per_key_stateful(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("latest_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM latest_state").collect()
    # final state per key = max seq ever seen; stale updates never emitted
    final = {}
    for r in rows:
        if r["key"] not in final or r["seq"] > final[r["key"]]["seq"]:
            final[r["key"]] = r
    assert final["A"]["payload"] == "a9" and final["A"]["value"] == 90.0
    assert final["B"]["payload"] == "b1"
    assert final["C"]["payload"] == "c1"
    assert not any(r["payload"] == "stale" for r in rows)


def test_latest_per_key_stateful_ttl_evicts_idle_keys(spark, tmp_path):
    """X6 stateful form: a key idle past the TTL is evicted from the
    state store, so its next arrival — even with a LOWER seq than the
    evicted best — re-emits as a brand-new key. Without eviction that
    row would be suppressed as stale, so its presence proves bounded
    state under key churn."""
    import time

    d = tmp_path / "in"
    d.mkdir()
    (d / "b0.json").write_text(
        json.dumps({"key": "A", "seq": 9, "value": 90.0, "payload": "a9"})
    )

    # One continuously-running query: with ProcessingTimeTimeout the
    # engine runs a batch per trigger to evaluate timers, so the idle
    # key's eviction fires on its own while the query is live. (NB:
    # processAllAvailable/availableNow block indefinitely under
    # ProcessingTimeTimeout in this Spark version — poll the sink with a
    # deadline instead.)
    stream = spark.readStream.schema(IN_SCHEMA).json(str(d))
    q = (
        latest_per_key_stateful(stream, ttl_ms=1000)
        .writeStream.format("memory")
        .queryName("latest_ttl")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def poll(payload, deadline=90.0):
        t0 = time.time()
        while time.time() - t0 < deadline:
            if any(r["payload"] == payload
                   for r in spark.sql("SELECT * FROM latest_ttl").collect()):
                return True
            time.sleep(0.5)
        return False

    try:
        assert poll("a9"), "initial row never reached the sink"
        time.sleep(2.5)  # let A's 1000 ms TTL lapse; a timer batch evicts it
        # re-send A with a LOWER seq: only a freshly-evicted key accepts it
        (d / "b1.json").write_text(
            json.dumps({"key": "A", "seq": 1, "value": 10.0, "payload": "reborn"})
        )
        assert poll("reborn"), (
            "evicted key did not re-emit as new: %s"
            % spark.sql("SELECT * FROM latest_ttl").collect()
        )
    finally:
        q.stop()


def test_ewma_stateful_matches_pandas_across_batches(spark, tmp_path):
    """Streaming recursive EWMA must equal pandas ewm(adjust=False) over
    the concatenated series, with state carrying the seed across
    micro-batches and late replays (seq <= last) dropped."""
    import pandas as pd

    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        ewma_per_key_stateful,
    )

    d = tmp_path / "in_ewma"
    d.mkdir()
    a_vals = [10.0, 30.0, 20.0, 40.0, 25.0]
    b_vals = [5.0, 6.0]
    (d / "b0.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"key": "A", "seq": 1, "value": a_vals[0], "payload": ""},
                {"key": "A", "seq": 2, "value": a_vals[1], "payload": ""},
                {"key": "B", "seq": 1, "value": b_vals[0], "payload": ""},
            ]
        )
    )
    (d / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"key": "A", "seq": 2, "value": 999.0, "payload": "replay"},
                {"key": "A", "seq": 3, "value": a_vals[2], "payload": ""},
                {"key": "A", "seq": 4, "value": a_vals[3], "payload": ""},
                # duplicate seq INSIDE one micro-batch: must emit once and
                # advance the recursion once (first copy wins)
                {"key": "A", "seq": 4, "value": 999.0, "payload": "dup-in-batch"},
                {"key": "B", "seq": 2, "value": b_vals[1], "payload": ""},
            ]
        )
    )
    (d / "b2.json").write_text(
        json.dumps({"key": "A", "seq": 5, "value": a_vals[4], "payload": ""})
    )
    # FileStreamSource orders batches by modification time; same-tick
    # writes can replay out of order, so pin strictly increasing mtimes.
    import os
    import time

    now = time.time()
    for i, f in enumerate(["b0.json", "b1.json", "b2.json"]):
        os.utime(d / f, (now + i, now + i))
    stream = (
        spark.readStream.schema(IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
        .select("key", "seq", "value")
    )
    out = ewma_per_key_stateful(stream, alpha=0.25)
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp_ewma"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM ewma_state ORDER BY key, seq").collect()
    got = {(r["key"], r["seq"]): r["ewma"] for r in rows}
    # one emission per accepted row; neither the cross-batch seq=2 replay
    # nor the in-batch seq=4 duplicate may re-emit or double-advance
    assert len(rows) == len(a_vals) + len(b_vals)
    assert not any(r["value"] == 999.0 for r in rows)
    expect_a = pd.Series(a_vals).ewm(alpha=0.25, adjust=False).mean()
    expect_b = pd.Series(b_vals).ewm(alpha=0.25, adjust=False).mean()
    for i, e in enumerate(expect_a):
        assert abs(got[("A", i + 1)] - e) < 1e-12
    for i, e in enumerate(expect_b):
        assert abs(got[("B", i + 1)] - e) < 1e-12


def test_ewma_stateful_survives_query_restart(spark, tmp_path):
    """Stop the streaming query, add data, start a NEW query from the
    same checkpoint: the EWMA must continue from recovered state, not
    restart the recursion."""
    import os
    import time

    import pandas as pd

    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        ewma_per_key_stateful,
    )

    d = tmp_path / "in_restart"
    d.mkdir()
    vals = [10.0, 30.0, 20.0, 40.0]
    (d / "b0.json").write_text(
        "\n".join(
            json.dumps({"key": "A", "seq": i + 1, "value": v, "payload": ""})
            for i, v in enumerate(vals[:2])
        )
    )
    cp = str(tmp_path / "cp_restart")
    out_dir = str(tmp_path / "out_restart")

    def run_once():
        # memory sink cannot recover from a checkpoint; foreachBatch can.
        stream = (
            spark.readStream.schema(IN_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
            .select("key", "seq", "value")
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            ewma_per_key_stateful(stream, alpha=0.5)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    first = spark.read.parquet(out_dir).collect()
    assert {r["seq"] for r in first} == {1, 2}

    (d / "b1.json").write_text(
        "\n".join(
            json.dumps({"key": "A", "seq": i + 3, "value": v, "payload": ""})
            for i, v in enumerate(vals[2:])
        )
    )
    os.utime(d / "b1.json", (time.time() + 5, time.time() + 5))
    run_once()  # new query instance, same checkpoint
    rows = spark.read.parquet(out_dir).orderBy("seq").collect()
    got = {r["seq"]: r["ewma"] for r in rows}
    expect = pd.Series(vals).ewm(alpha=0.5, adjust=False).mean()
    # seqs 3-4 continue the recursion seeded from the recovered (2, e2)
    for i, e in enumerate(expect):
        assert abs(got[i + 1] - e) < 1e-12, (i + 1, got.get(i + 1), e)


def test_rsi_stateful_matches_wilder_reference_across_batches(spark, tmp_path):
    """Streaming Wilder RSI must equal a single-pass reference over the
    concatenated series regardless of micro-batch boundaries, with the
    same replay/duplicate guards as the EWMA twin."""
    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        rsi_per_key_stateful,
    )

    n = 3
    a_vals = [10.0, 12.0, 11.0, 13.0, 14.0, 12.0, 12.0]

    def wilder(vals):
        g = l = 0.0
        nd = 0
        last = None
        out = []
        for x in vals:
            if last is None:
                last = x
                out.append(None)
                continue
            d = x - last
            last = x
            gain, loss = max(d, 0.0), max(-d, 0.0)
            if nd < n:
                g, l, nd = g + gain, l + loss, nd + 1
                if nd == n:
                    g, l = g / n, l / n
            else:
                g, l = (g * (n - 1) + gain) / n, (l * (n - 1) + loss) / n
            if nd < n:
                out.append(None)
            elif l == 0.0:
                out.append(50.0 if g == 0.0 else 100.0)
            else:
                out.append(100.0 - 100.0 / (1.0 + g / l))
        return out

    d = tmp_path / "in_rsi"
    d.mkdir()
    msgs = [
        {"key": "A", "seq": i + 1, "value": v, "payload": ""}
        for i, v in enumerate(a_vals)
    ]
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in msgs[:2]))
    replay_and_dup = [
        {"key": "A", "seq": 2, "value": 999.0, "payload": "replay"},
        *msgs[2:5],
        {"key": "A", "seq": 5, "value": 999.0, "payload": "dup-in-batch"},
    ]
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in replay_and_dup))
    (d / "b2.json").write_text("\n".join(json.dumps(r) for r in msgs[5:]))
    import os
    import time

    now = time.time()
    for i, f in enumerate(["b0.json", "b1.json", "b2.json"]):
        os.utime(d / f, (now + i, now + i))
    stream = (
        spark.readStream.schema(IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
        .select("key", "seq", "value")
    )
    q = (
        rsi_per_key_stateful(stream, n=n)
        .writeStream.format("memory")
        .queryName("rsi_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp_rsi"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM rsi_state ORDER BY seq").collect()
    assert len(rows) == len(a_vals)
    assert not any(r["value"] == 999.0 for r in rows)
    expect = wilder(a_vals)
    for r, e in zip(rows, expect):
        if e is None:
            assert r["rsi"] is None
        else:
            assert abs(r["rsi"] - e) < 1e-12


def test_obv_stateful_bit_equal_to_batch_across_batches(spark, tmp_path):
    """Streaming OBV must be BIT-EQUAL to the batch operator over the
    concatenated series (integer accumulator — no tolerance), with
    state seeding across micro-batches and both replay shapes dropped."""
    import os
    import time

    from pyspark.sql import functions as F

    from market_analyze_data_stream_processing_spark.operators.indicators import (
        with_obv,
    )
    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        obv_per_key_stateful,
    )

    d = tmp_path / "in_obv"
    d.mkdir()
    series = [  # (seq, price, vol)
        (1, 10.0, 5), (2, 12.0, 3), (3, 12.0, 7), (4, 11.0, 4), (5, 13.0, 2),
    ]
    schema = "key string, seq long, price double, vol long"
    (d / "b0.json").write_text(
        "\n".join(
            json.dumps({"key": "A", "seq": s, "price": p, "vol": v})
            for s, p, v in series[:2]
        )
    )
    (d / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"key": "A", "seq": 2, "price": 99.0, "vol": 9},  # replay
                {"key": "A", "seq": 3, "price": 12.0, "vol": 7},
                {"key": "A", "seq": 4, "price": 11.0, "vol": 4},
                {"key": "A", "seq": 4, "price": 99.0, "vol": 9},  # in-batch dup
            ]
        )
    )
    (d / "b2.json").write_text(
        json.dumps({"key": "A", "seq": 5, "price": 13.0, "vol": 2})
    )
    now = time.time()
    for i, f in enumerate(["b0.json", "b1.json", "b2.json"]):
        os.utime(d / f, (now + i, now + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        obv_per_key_stateful(stream)
        .writeStream.format("memory")
        .queryName("obv_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp_obv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM obv_state ORDER BY seq").collect()
    assert len(rows) == len(series)
    assert not any(r["price"] == 99.0 for r in rows)

    batch = spark.createDataFrame(
        [("A", f"2024-01-01 10:{s:02d}:00", p, s, v) for s, p, v in series],
        "ticker string, ts string, price double, seq long, vol long",
    ).withColumn("ts", F.to_timestamp("ts"))
    expect = {r["seq"]: r["obv"] for r in with_obv(batch).collect()}
    for r in rows:
        assert r["obv"] == expect[r["seq"]]  # exact, not approximate


def test_vwap_stateful_resets_per_session(spark, tmp_path):
    """Anchored VWAP: the session anchor is part of the state key, so a
    new session starts a fresh accumulator while the old one's rows
    (arriving late in the same stream) still extend the old state."""
    import os
    import time

    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        vwap_per_key_stateful,
    )

    d = tmp_path / "in_vwap"
    d.mkdir()
    schema = "key string, session string, seq long, price double, vol long"
    (d / "b0.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"key": "A", "session": "d1", "seq": 1, "price": 10.0, "vol": 2},
                {"key": "A", "session": "d1", "seq": 2, "price": 20.0, "vol": 2},
            ]
        )
    )
    (d / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                # new session resets; old session's late row continues
                {"key": "A", "session": "d2", "seq": 3, "price": 30.0, "vol": 1},
                {"key": "A", "session": "d1", "seq": 4, "price": 40.0, "vol": 4},
            ]
        )
    )
    now = time.time()
    for i, f in enumerate(["b0.json", "b1.json"]):
        os.utime(d / f, (now + i, now + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        vwap_per_key_stateful(stream)
        .writeStream.format("memory")
        .queryName("vwap_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp_vwap"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["session"], r["seq"]): r["vwap"]
        for r in spark.sql("SELECT * FROM vwap_state").collect()
    }
    assert got[("d1", 1)] == 10.0
    assert got[("d1", 2)] == (10.0 * 2 + 20.0 * 2) / 4
    assert got[("d2", 3)] == 30.0  # fresh accumulator
    assert got[("d1", 4)] == (10.0 * 2 + 20.0 * 2 + 40.0 * 4) / 8


# --- kill-and-restart + replay differential, every stateful operator ---


def _x(key, seq):
    """A small non-monotone series; key B sits 2.0 above key A."""
    return 10.0 + (seq * 7) % 5 + (2.0 if key == "B" else 0.0)


def _restart_cases():
    """name -> (input schema, operator, row(key, seq, x), output mode,
    is a seq fold). ``x`` = 999.0 marks a poison row: a replay that
    must never reach the output."""
    from market_analyze_data_stream_processing_spark.streaming.drift import (
        drift_monitor_stateful,
    )
    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        cusum_per_key_stateful,
        ewma_per_key_stateful,
        heavy_hitters_stateful,
        obv_per_key_stateful,
        rsi_per_key_stateful,
        scd2_stateful,
        vwap_per_key_stateful,
    )

    val = "key string, seq long, value double"
    bar = "key string, seq long, price double, vol long"

    def val_row(k, s, x):
        return {"key": k, "seq": s, "value": x}

    def bar_row(k, s, x):
        return {"key": k, "seq": s, "price": x, "vol": s % 4 + 1}

    return {
        "latest": (
            "key string, seq long, value double, payload string",
            latest_per_key_stateful,
            lambda k, s, x: {**val_row(k, s, x), "payload": f"{k}{s}"},
            "update", False,
        ),
        "ewma": (
            val, lambda st: ewma_per_key_stateful(st, alpha=0.3),
            val_row, "update", True,
        ),
        "rsi": (
            val, lambda st: rsi_per_key_stateful(st, n=3),
            val_row, "update", True,
        ),
        "obv": (bar, obv_per_key_stateful, bar_row, "update", True),
        "vwap": (
            "key string, session string, seq long, price double, vol long",
            vwap_per_key_stateful,
            lambda k, s, x: {**bar_row(k, s, x), "session": "d1" if s <= 4 else "d2"},
            "update", True,
        ),
        "heavy_hitters": (
            "key string, seq long, item string",
            lambda st: heavy_hitters_stateful(st, k=3),
            lambda k, s, x: {"key": k, "seq": s, "item": "abcz"[int(x) % 4]},
            "update", True,
        ),
        "scd2": (
            "user_id long, ts_us long, event_id long, event_type string",
            scd2_stateful,
            lambda k, s, x: {
                "user_id": 1 if k == "A" else 2,
                "ts_us": s * 1_000_000,
                "event_id": 10 * s + (k == "B"),
                "event_type": "XY"[int(x) % 2],
            },
            "append", False,
        ),
        # key B is uncharted: its rows pass through with null scores
        "cusum": (
            val,
            lambda st: cusum_per_key_stateful(
                st, {"A": (11.5, 1.5)}, k_sigma=0.5, h_sigma=1.0
            ),
            val_row, "update", True,
        ),
        "drift": (
            "grp string, value double",
            lambda st: drift_monitor_stateful(
                st, {"A": [2, 3, 1, 0]}, bucket_width=5.0, n_buckets=3
            ),
            lambda k, s, x: {"grp": k, "value": x},
            "update", False,
        ),
    }


def _restart_batches(row, poison: bool) -> list[list[dict]]:
    """Three files of keys A and B: seqs 1-3 | 4-6 | 7-8. With
    ``poison``, file 2 also replays seq 3 (file 1's last, the boundary
    case) and repeats seq 5 after its first copy; the seq fold must
    drop both."""
    batches = [
        [row(k, s, _x(k, s)) for k in "AB" for s in seqs]
        for seqs in ([1, 2, 3], [4, 5, 6], [7, 8])
    ]
    if poison:
        batches[1] += [row(k, s, 999.0) for s in (3, 5) for k in "AB"]
    return batches


def _run_restartable(spark, root, case, batches, stop_after=None):
    """Feed ``batches`` as one JSON file per trigger through the
    operator into an idempotent foreachBatch parquet sink (one
    overwrite directory per batch id). With ``stop_after``, the first
    query sees only that many files; the rest arrive after it stopped
    and a NEW query resumes from the same checkpoint."""
    import os
    import time

    schema, build, _, mode, _ = case
    d, out = root / "in", root / "out"
    d.mkdir(parents=True)
    now = time.time()

    def write(i):
        f = d / f"b{i}.json"
        f.write_text("\n".join(json.dumps(r) for r in batches[i]))
        os.utime(f, (now + i, now + i))  # pin file-source pickup order

    def sink(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        q = (
            build(stream)
            .writeStream.foreachBatch(sink)
            .outputMode(mode)
            .option("checkpointLocation", str(root / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    first = stop_after or len(batches)
    for i in range(first):
        write(i)
    drain()
    for i in range(first, len(batches)):
        write(i)
    if first < len(batches):
        drain()
    return sorted(
        (tuple(r) for r in spark.read.parquet(str(out)).collect()), key=repr
    )


@pytest.mark.parametrize(
    "name",
    ["latest", "ewma", "rsi", "obv", "vwap", "heavy_hitters", "scd2",
     "cusum", "drift"],
)
def test_stateful_restart_and_replay_differential(spark, tmp_path, name):
    """Every stateful operator survives a stop and restart from its
    checkpoint with output identical to an uninterrupted run, batch for
    batch. For the seq folds, the second file also carries a replay of
    a seq the first query already processed (so the replay crosses the
    restart) and an in-batch duplicate seq; the output must equal a run
    over the same input with those rows removed."""
    case = _restart_cases()[name]
    _, _, row, _, is_fold = case
    batches = _restart_batches(row, poison=is_fold)
    whole = _run_restartable(spark, tmp_path / "whole", case, batches)
    restarted = _run_restartable(
        spark, tmp_path / "restarted", case, batches, stop_after=1
    )
    assert {r[-1] for r in whole} == {0, 1, 2}  # every batch emitted
    assert restarted == whole
    if is_fold:
        clean = _restart_batches(row, poison=False)
        assert _run_restartable(spark, tmp_path / "clean", case, clean) == whole
