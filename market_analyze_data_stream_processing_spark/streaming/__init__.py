from .heartbeat import HeartbeatListener, health_status
from .ingest import file_json_stream, kafka_topic_stream, split_by_topic
from .upsert import (
    keep_last_merge,
    retention_filter,
    stream_upsert_parquet,
    upsert_parquet,
)

__all__ = [
    "kafka_topic_stream",
    "file_json_stream",
    "split_by_topic",
    "keep_last_merge",
    "upsert_parquet",
    "stream_upsert_parquet",
    "retention_filter",
    "HeartbeatListener",
    "health_status",
]
