"""Null/NaN totality of the streaming stateful twins.

A null value arrives in the pandas micro-batch as NaN; before round 9
the twins either crashed (int(NaN)/Decimal-quantize-NaN in VWAP and
CUSUM) or silently poisoned their state with NaN forever (EWMA, RSI).
Each twin now mirrors its batch form's NULL semantics: valueless ticks
accumulate nothing, the state stays finite, and the query survives —
the drift-monitor robustness rule (a streaming twin must be at least as
robust as the batch pipeline it shadows).
"""

from __future__ import annotations

import json

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

VAL_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("value", DoubleType()),
    ]
)

BAR_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("price", DoubleType()),
        StructField("vol", LongType()),
    ]
)


def _run_stream(spark, tmp_path, build, rows, schema, name):
    d = tmp_path / "in"
    d.mkdir()
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema(schema).json(str(d))
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_ewma_drops_valueless_ticks(spark, tmp_path):
    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        ewma_per_key_stateful,
    )

    rows = [
        {"key": "A", "seq": 0, "value": 10.0},
        {"key": "A", "seq": 1, "value": None},
        {"key": "A", "seq": 2, "value": 20.0},
    ]
    out = {
        r["seq"]: r["ewma"]
        for r in _run_stream(
            spark, tmp_path,
            lambda s: ewma_per_key_stateful(s, alpha=0.5),
            rows, VAL_SCHEMA, "ewma_nulls",
        )
    }
    # the null tick emits nothing and does not advance the recursion:
    # e(20) seeds from e(10) = 10 -> 15, never NaN
    assert set(out) == {0, 2}
    assert out[0] == 10.0 and out[2] == 15.0


def test_rsi_skips_null_deltas_without_counting(spark, tmp_path):
    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        rsi_per_key_stateful,
    )

    # deltas: +1 (counted), null x2 (skipped), +1, +1 -> warmup n=3
    # completes at seq 5; the two null-adjacent deltas never count
    rows = [
        {"key": "A", "seq": 0, "value": 10.0},
        {"key": "A", "seq": 1, "value": 11.0},
        {"key": "A", "seq": 2, "value": None},
        {"key": "A", "seq": 3, "value": 12.0},
        {"key": "A", "seq": 4, "value": 13.0},
        {"key": "A", "seq": 5, "value": 14.0},
    ]
    out = {
        r["seq"]: r["rsi"]
        for r in _run_stream(
            spark, tmp_path,
            lambda s: rsi_per_key_stateful(s, n=3),
            rows, VAL_SCHEMA, "rsi_nulls",
        )
    }
    assert len(out) == 6
    # seq 2 (null) and seq 3 (delta vs null) don't count toward warmup
    assert out[4] is None  # only 2 finite deltas so far
    assert out[5] == 100.0  # 3 all-gain deltas -> RSI 100
    # the null row itself emits the current (warmup) value, not NaN
    assert out[2] is None


def test_obv_null_price_and_vol_move_nothing(spark, tmp_path):
    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        obv_per_key_stateful,
    )

    rows = [
        {"key": "A", "seq": 0, "price": 10.0, "vol": 5},
        {"key": "A", "seq": 1, "price": None, "vol": 3},   # no comparison
        {"key": "A", "seq": 2, "price": 12.0, "vol": None},  # up, vol 0
        {"key": "A", "seq": 3, "price": 13.0, "vol": 7},   # up, +7
    ]
    out = {
        r["seq"]: r["obv"]
        for r in _run_stream(
            spark, tmp_path, obv_per_key_stateful, rows, BAR_SCHEMA,
            "obv_nulls",
        )
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 7}


def test_vwap_skips_unpriced_trades(spark, tmp_path):
    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        vwap_per_key_stateful,
    )

    schema = StructType(
        [
            StructField("key", StringType()),
            StructField("session", StringType()),
            StructField("seq", LongType()),
            StructField("price", DoubleType()),
            StructField("vol", LongType()),
        ]
    )
    rows = [
        {"key": "A", "session": "s1", "seq": 0, "price": None, "vol": 5},
        {"key": "A", "session": "s1", "seq": 1, "price": 10.0, "vol": 4},
        {"key": "A", "session": "s1", "seq": 2, "price": 20.0, "vol": None},
        {"key": "A", "session": "s1", "seq": 3, "price": 20.0, "vol": 4},
    ]
    out = {
        r["seq"]: r["vwap"]
        for r in _run_stream(
            spark, tmp_path, vwap_per_key_stateful, rows, schema,
            "vwap_nulls",
        )
    }
    # seq 0: no priced trade yet -> NULL (not a crash, not 0/0)
    assert out[0] is None
    assert out[1] == 10.0
    assert out[2] == 10.0  # null vol contributes nothing
    assert out[3] == 15.0  # (10*4 + 20*4) / 8


def test_cusum_carries_score_over_valueless_ticks(spark, tmp_path):
    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        cusum_per_key_stateful,
    )

    rows = [
        {"key": "A", "seq": 0, "value": None},   # no evidence yet -> NULL
        {"key": "A", "seq": 1, "value": 12.0},
        {"key": "A", "seq": 2, "value": None},   # carried score
        {"key": "A", "seq": 3, "value": 12.0},
    ]
    out = {
        r["seq"]: r
        for r in _run_stream(
            spark, tmp_path,
            lambda s: cusum_per_key_stateful(
                s, {"A": (10.0, 1.0)}, k_sigma=0.5, h_sigma=1.0
            ),
            rows, VAL_SCHEMA, "cusum_nulls",
        )
    }
    assert len(out) == 4
    assert out[0]["cusum_up"] is None and out[0]["alarm_up"] is None
    # y = 12 - 10 - 0.5 = 1.5 each accumulating tick
    assert out[1]["cusum_up"] == 1.5 and out[1]["alarm_up"] == 1
    assert out[2]["cusum_up"] == 1.5  # carried, value NULL, no crash
    assert out[2]["value"] is None
    assert out[3]["cusum_up"] == 3.0


def test_latest_keeps_a_null_payload_null(spark, tmp_path):
    """A null payload is stored and emitted as null, not as the string
    'None' a reader could not tell from real text."""
    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        latest_per_key_stateful,
    )

    schema = StructType(
        [*VAL_SCHEMA.fields, StructField("payload", StringType())]
    )
    rows = _run_stream(
        spark, tmp_path, latest_per_key_stateful,
        [{"key": "A", "seq": 1, "value": 1.0, "payload": None}],
        schema, "latest_null_payload",
    )
    assert [(r["key"], r["seq"], r["payload"]) for r in rows] == [("A", 1, None)]


def test_heavy_hitters_emits_the_emptied_summary(spark, tmp_path):
    """k=2 over three distinct items cancels every Misra-Gries counter:
    the trigger still emits one marker row (item null, lb 0, the current
    n_seen), so an update-mode consumer drops the key's old watchlist."""
    from market_analyze_data_stream_processing_spark.streaming.stateful import (
        heavy_hitters_stateful,
    )

    schema = StructType(
        [
            StructField("key", StringType()),
            StructField("seq", LongType()),
            StructField("item", StringType()),
        ]
    )
    rows = _run_stream(
        spark, tmp_path, lambda s: heavy_hitters_stateful(s, k=2),
        [{"key": "K", "seq": s, "item": it} for s, it in enumerate("abc", 1)],
        schema, "mg_emptied",
    )
    assert [tuple(r) for r in rows] == [("K", None, 0, 3)]
