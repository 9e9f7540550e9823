"""The market pipeline shared by ``ingest`` and ``dashboard``: landing
producer cycles as files, and one consumer cycle over them.

A consumer cycle is the ingest path of the package, end to end:
``file_json_stream → split_by_topic → drop_empty_titles /
synthesize_doc_id / clean_metadata → enrich UDFs``, then
``stream_upsert_parquet(..., trigger_once=True)`` into the docs store
and the history store, both awaited.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import datagen
import harness

#: Producer cycles backfilled before the timed phase. An ``ingest`` run
#: adds under twenty, so the store is over ten times larger than what
#: the run writes, as a long-running store would be.
BACKFILL_CYCLES = 200
SMOKE_BACKFILL_CYCLES = 12
#: Producer cycles per backfill file: the backfill lands as a few large
#: files (same messages) so the cold first cycle does not pay per-file
#: task overhead for hundreds of tiny files.
BACKFILL_FILE_CYCLES = 20


class Market:
    """Paths, the seeded feed and the consumer for one run."""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.feed = datagen.MarketFeed(seed)
        self.landing = os.path.join(work, "landing")
        self.staging = os.path.join(work, "staging")
        self.docs_path = os.path.join(work, "store", "docs")
        self.history_path = os.path.join(work, "store", "history")
        self.ckpt_docs = os.path.join(work, "checkpoint", "docs")
        self.ckpt_history = os.path.join(work, "checkpoint", "history")
        for d in (self.landing, self.staging):
            os.makedirs(d, exist_ok=True)
        from market_analyze_data_stream_processing_spark.operators.enrich import (
            make_embedding_udf,
            make_sentiment_udf,
        )

        self.embed = make_embedding_udf()
        self.sentiment = make_sentiment_udf(use_real_model=False)

    def land(self, name: str, msgs: list[dict]) -> None:
        datagen.write_cycle(os.path.join(self.landing, f"{name}.json"), self.staging, msgs)

    def land_cycle(self, cycle: int) -> None:
        self.land(f"cycle-{cycle:06d}", self.feed.cycle(cycle))

    def land_backfill(self, cycles: int) -> None:
        """Land producer cycles ``0 .. cycles-1``, several per file."""
        step = BACKFILL_FILE_CYCLES
        for start in range(0, cycles, step):
            msgs = [m for c in range(start, min(cycles, start + step))
                    for m in self.feed.cycle(c)]
            self.land(f"backfill-{start:06d}", msgs)

    def consume(self, tracer: harness.Tracer | None = None, op: int = 0,
                layers: harness.Layers | None = None) -> None:
        """One consumer cycle. Traced, it records the start and await
        spans, both queries' streaming progress and the Arrow-seam
        metrics of the docs query's micro-batch plan into ``layers``."""
        from market_analyze_data_stream_processing_spark.operators.enrich import (
            embed_text_expr,
            sentiment_text_expr,
        )
        from market_analyze_data_stream_processing_spark.sources.json_topics import (
            clean_metadata,
            drop_empty_titles,
            synthesize_doc_id,
        )
        from market_analyze_data_stream_processing_spark.streaming.ingest import (
            file_json_stream,
            split_by_topic,
        )
        from market_analyze_data_stream_processing_spark.streaming.upsert import (
            stream_upsert_parquet,
        )

        def start():
            raw = file_json_stream(self.spark, self.landing, max_files=100_000)
            parts = split_by_topic(raw)
            docs = clean_metadata(
                synthesize_doc_id(drop_empty_titles(parts["docs"])),
                sentiment=self.sentiment(sentiment_text_expr()),
            )
            docs = docs.withColumn(
                "document",
                F.coalesce(F.nullif(F.col("content"), F.lit("")), F.col("summary"),
                           F.col("title")),
            ).withColumn("embedding", self.embed(embed_text_expr()))
            return [
                stream_upsert_parquet(docs, self.docs_path, ["id"], ["timestamp"],
                                      self.ckpt_docs, trigger_once=True),
                stream_upsert_parquet(parts["history"], self.history_path,
                                      ["ticker", "date"], ["Volume"], self.ckpt_history,
                                      trigger_once=True),
            ]

        if tracer is None:
            queries = start()
            for q in queries:
                q.awaitTermination()
        else:
            with tracer.span("streaming.start", op):
                queries = start()
            with tracer.span("streaming.await", op):
                for q in queries:
                    q.awaitTermination()
        for q in queries:
            if q.exception() is not None:
                raise harness.BenchError(f"consumer cycle failed: {q.exception()}")
        if layers is not None:
            for q in queries:
                add_progress(layers, q.recentProgress)
            last = queries[0]._jsq.streamingQuery().lastExecution()
            if last is not None:
                for k, v in harness.plan_python_metrics(last.executedPlan()).items():
                    layers.add(k, v)

    def docs_glob(self) -> str:
        return os.path.join(self.docs_path, "*", "*.parquet")

    def history_glob(self) -> str:
        return os.path.join(self.history_path, "*", "*.parquet")

    def landing_glob(self) -> str:
        return os.path.join(self.landing, "*.json")

    def store_facts(self, layers: harness.Layers, con) -> None:
        """Size of both stores and of the checkpoints, per run."""
        rows = sum(
            con.execute(f"SELECT count(*) FROM read_parquet('{g}')").fetchone()[0]
            for g in (self.docs_glob(), self.history_glob())
        )
        files = mb = 0.0
        for root in (self.docs_path, self.history_path):
            for d, _, fs in os.walk(root):
                for f in fs:
                    if f.endswith(".parquet"):
                        files += 1
                        mb += os.path.getsize(os.path.join(d, f)) / 2**20
        ckpt = sum(len(fs) for root in (self.ckpt_docs, self.ckpt_history)
                   for _, _, fs in os.walk(root))
        layers.set("store.rows", rows)
        layers.set("store.files", files)
        layers.set("store.mb", mb)
        layers.set("checkpoint.files", ckpt)


def add_progress(layers: harness.Layers, progress: list) -> None:
    """Streaming progress records of one query's consumer cycle."""
    for p in progress:
        dur = p.get("durationMs", {})
        layers.add("streaming.batches", 1)
        layers.add("streaming.input_rows", p.get("numInputRows", 0))
        layers.add("streaming.latest_offset_ms", dur.get("latestOffset", 0))
        layers.add("streaming.planning_ms", dur.get("queryPlanning", 0))
        layers.add("streaming.add_batch_ms", dur.get("addBatch", 0))
        layers.add("streaming.commit_ms", dur.get("walCommit", 0) + dur.get("commitOffsets", 0))
