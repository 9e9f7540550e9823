"""Custom Python DataSource (S8): the feed fetcher as a plannable,
partition-per-ticker Spark source."""

from __future__ import annotations

import pytest

from market_analyze_data_stream_processing_spark.sources.feed_source import (
    FeedDataSource,
)


@pytest.fixture(scope="module", autouse=True)
def register(spark):
    spark.dataSource.register(FeedDataSource)


def _read(spark, **opts):
    r = spark.read.format("mads_feed")
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_feed_source_rows_and_schema(spark):
    df = _read(spark, tickers="MC.PA,AIR.PA,SU.PA", items_per_ticker=3, cycle=0)
    assert df.columns == [
        "ticker", "id", "title", "link", "summary", "publish_time", "type", "source",
    ]
    rows = df.collect()
    assert len(rows) == 9  # 3 tickers × 3 items (producer.py:97 head-N)
    assert {r["ticker"] for r in rows} == {"MC.PA", "AIR.PA", "SU.PA"}
    assert all(r["source"] == "google_rss" and r["type"] == "news" for r in rows)
    # partition-per-ticker parallelism
    assert df.rdd.getNumPartitions() == 3


def test_feed_source_deterministic_and_cycle_sensitive(spark):
    a = sorted(map(tuple, _read(spark, tickers="MC.PA", cycle=0).collect()))
    b = sorted(map(tuple, _read(spark, tickers="MC.PA", cycle=0).collect()))
    c = sorted(map(tuple, _read(spark, tickers="MC.PA", cycle=1).collect()))
    assert a == b  # same cycle → identical (stable ids: upsert-safe replay)
    assert a != c  # new cycle → fresh entries


def test_feed_source_feeds_the_ingest_pipeline(spark):
    """Feed source rows flow through the same id-synthesis + coercion
    path as Kafka messages — S8 → S3 → P2 end to end."""
    from pyspark.sql import functions as F

    from market_analyze_data_stream_processing_spark.sources.json_topics import (
        clean_metadata,
        drop_empty_titles,
        synthesize_doc_id,
    )

    feed = _read(spark, tickers="MC.PA", items_per_ticker=2, cycle=0)
    docs = clean_metadata(
        synthesize_doc_id(drop_empty_titles(feed)), sentiment=F.lit(0.0)
    )
    rows = docs.collect()
    assert len(rows) == 2
    assert all(r["id"].startswith("NEWS_MC.PA_") for r in rows)
    assert all(r["timestamp"] == r["publish_time"] for r in rows)  # backfill
