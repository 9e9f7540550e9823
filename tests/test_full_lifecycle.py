"""The whole reference lifecycle in one batch pass (SURVEY §3.1→§3.3):
feed source → producer-parity message synthesis → Kafka frame encode →
parse → id-synthesis/coercion → keep-last upsert → enrichment →
retrieval context. Every seam is the production code path."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from market_analyze_data_stream_processing_spark.operators.enrich import (
    _hash_projection_embed,
    embed_text_expr,
    make_embedding_udf,
    make_sentiment_udf,
    sentiment_text_expr,
)
from market_analyze_data_stream_processing_spark.operators.messages import (
    daily_summary_messages,
    to_kafka_frame,
)
from market_analyze_data_stream_processing_spark.operators.retrieval import RouterQuery
from market_analyze_data_stream_processing_spark.rag import get_answer
from market_analyze_data_stream_processing_spark.schemas import NEWS_DOC_SCHEMA
from market_analyze_data_stream_processing_spark.sources.feed_source import FeedDataSource
from market_analyze_data_stream_processing_spark.sources.json_topics import (
    clean_metadata,
    drop_empty_titles,
    synthesize_doc_id,
)
from market_analyze_data_stream_processing_spark.streaming.upsert import upsert_parquet

NOW = 1700000400.0


def test_full_lifecycle(spark, tmp_path):
    spark.dataSource.register(FeedDataSource)

    # 1. S8 feed source (2 tickers × 2 items) + A1 daily-summary synthesis
    feed = (
        spark.read.format("mads_feed")
        .option("tickers", "MC.PA,AIR.PA")
        .option("items_per_ticker", "2")
        .load()
    )
    bars = spark.createDataFrame(
        [("MC.PA", f"2024-01-{d:02d}", 700.0 + d, 710.0 + d, 690.0 + d,
          705.0 + d, 1000 * d) for d in range(1, 4)],
        ["ticker", "date", "Open", "High", "Low", "Close", "Volume"],
    )
    summaries = daily_summary_messages(bars, publish_time=F.lit(NOW - 3600))

    # 2. S1 Kafka frame encode → S2/S3 parse (the wire round trip)
    wire = to_kafka_frame(feed, "financial-news").unionByName(
        to_kafka_frame(summaries, "daily-summary")
    )
    parsed = wire.select(
        F.from_json(F.col("value"), NEWS_DOC_SCHEMA).alias("v")
    ).select("v.*")

    # 3. P2/P3 + id ladder + S6 keep-last upsert
    docs_meta = clean_metadata(
        synthesize_doc_id(drop_empty_titles(parsed)), sentiment=F.lit(0.0)
    )
    path = str(tmp_path / "docs")
    upsert_parquet(spark, docs_meta.withColumn("seq", F.monotonically_increasing_id()),
                   path, keys=["id"], order=["seq"])
    upsert_parquet(spark, docs_meta.withColumn("seq", F.monotonically_increasing_id()),
                   path, keys=["id"], order=["seq"])  # replay: idempotent
    table = spark.read.parquet(path)
    assert table.count() == 5  # 4 news + 1 daily summary (replay collapsed)

    # 4. U1/U3 enrichment over the upserted table
    emb, sent = make_embedding_udf(), make_sentiment_udf()
    docs = (
        table.withColumn("sentiment", sent(sentiment_text_expr()))
        .withColumn("embedding", emb(embed_text_expr()))
        .withColumn("document", F.coalesce(F.col("content"), F.col("title")))
    )

    # 5. §3.3 retrieval + context assembly
    def embed_q(text):
        return [float(x) for x in _hash_projection_embed(pd.Series([text]))[0]]

    res = get_answer(
        docs, "MC.PA rally news", embed_query=embed_q,
        router=lambda t, now: RouterQuery("MC.PA", NOW - 86400, NOW, "REAL_TIME"),
        now=NOW,
    )
    assert res.dominant_ticker == "MC.PA"
    assert "[NEWS] MC.PA" in res.context
    assert "[MARKET HISTORY] MC.PA" in res.context  # the daily summary doc
    assert all(s["ticker"] == "MC.PA" for s in res.sources)
    # the summary doc's rendered OHLC round-trips through F8 extraction
    summary_src = [s for s in res.sources if s["type"] == "daily_summary"][0]
    assert summary_src["opening_price"] == 703.0
    assert summary_src["closing_price"] == 708.0
