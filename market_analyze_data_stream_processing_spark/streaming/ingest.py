"""Structured Streaming ingestion (SURVEY.md §2.1 S1–S3, §2.9 X1–X4).

The reference's 3-process pipeline (producer → Kafka → serial consumer)
becomes: one multi-topic stream source → type dispatch → shared
DataFrame transforms → foreachBatch upsert sinks. The transform
functions are the SAME batch functions from operators/ — batch-streaming
equivalence is structural, not re-implemented.

Kafka is optional (no broker in the test env): ``file_json_stream``
replays newline-JSON fixtures through the identical parse/dispatch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.analytics import with_lag_variation, with_moving_averages, with_trend
from ..schemas import NEWS_DOC_SCHEMA, STOCK_HISTORY_SCHEMA

#: Reference topic names (config.py:8-11).
TOPICS = {
    "news": "financial-news",
    "history": "stock-history",
    "hot": "hot-news-events",
    "daily": "daily-summary",
}


def kafka_source_options(
    bootstrap: str,
    topics: list[str] | None = None,
    starting_offsets: str = "earliest",
) -> dict[str, str]:
    """The EXACT option map ``kafka_topic_stream`` hands to the kafka
    source — split out as a pure function so the config surface is
    pinned by an executing test even where no broker/connector exists
    (config drift here is the first thing a real deployment hits)."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": ",".join(topics or list(TOPICS.values())),
        "startingOffsets": starting_offsets,
    }


def kafka_sink_options(bootstrap: str, checkpoint_dir: str) -> dict[str, str]:
    """The option map for the S1 producer sink (producer.py:62-75):
    ``to_kafka_frame`` output (key/value/topic columns) + these options
    is a complete ``writeStream.format("kafka")`` configuration — the
    topic rides per-row in the frame, so one sink serves all topics."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "checkpointLocation": checkpoint_dir,
    }


def kafka_topic_stream(
    spark: SparkSession,
    bootstrap: str,
    topics: list[str] | None = None,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S2: one consumer over all four topics (consumer.py:197-208).
    Returns the raw kafka frame (key/value/topic/timestamp)."""
    return (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(bootstrap, topics, starting_offsets))
        .load()
    )


def file_json_stream(spark: SparkSession, path: str, max_files: int = 10) -> DataFrame:
    """Fixture replay source: newline-JSON files with columns
    (topic, key, value) — the same shape the Kafka source yields, so the
    downstream pipeline is byte-identical with or without a broker."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [
            StructField("topic", StringType()),
            StructField("key", StringType()),
            StructField("value", StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .json(path)
    )


def split_by_topic(raw: DataFrame) -> dict[str, DataFrame]:
    """S3 topic dispatch (consumer.py:221-227): route to per-type parsed
    streams. history → bar schema; the three doc topics → doc schema."""
    value = F.col("value").cast("string")
    history = (
        raw.where(F.col("topic") == TOPICS["history"])
        .select(F.from_json(value, STOCK_HISTORY_SCHEMA).alias("v"))
        .select("v.*")
    )
    docs = (
        raw.where(F.col("topic") != TOPICS["history"])
        .select(F.col("topic"), F.from_json(value, NEWS_DOC_SCHEMA).alias("v"))
        .select("topic", "v.*")
    )
    return {"history": history, "docs": docs}


def bars_with_indicators(bars: DataFrame) -> DataFrame:
    """The producer's in-loop analytics (A2/A3/A5) applied to a bar
    frame — used by foreachBatch after the prices merge, proving the
    operators are stream-agnostic."""
    out = with_moving_averages(bars, value_col="Close", key="ticker", order="date")
    out = with_lag_variation(out, value_col="Close", key="ticker", order="date")
    return with_trend(out, value_col="Close", ma_col="ma50")


def with_watermark_dedup(
    stream: DataFrame, id_cols: list[str], ts_col: str, delay: str = "1 hour"
) -> DataFrame:
    """X4: bounded, fault-tolerant replacement for the reference's
    unbounded in-memory seen-id set (producer.py:98-100, 513).
    dropDuplicatesWithinWatermark keeps state only ``delay`` long."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(id_cols)
