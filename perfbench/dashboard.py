"""``dashboard`` workload: closed loop, one client, reads only.

The store is the one the ``ingest`` backfill builds (the market pipeline
over :data:`market.BACKFILL_CYCLES` producer cycles). Requests, seeded:

- ``watch``: ``serving.market_watch(docs, now).collect()``;
- ``chart``: ``serving.chart_frame(history, ticker).collect()``;
- ``ask``: ``rag.get_answer`` with a seeded ticker route and question and
  the hash-projection query embedding ``app.run_dashboard`` uses.

Every block of 10 requests holds 3 chart, 3 watch and 4 ask requests in
a seeded order. The classes are far apart in latency (chart < watch <
ask), so the median falls inside ``watch`` and the tail inside ``ask``,
never on a class boundary. The number of blocks follows from
``--seconds`` (see :data:`BLOCK_S`).
"""

from __future__ import annotations

import random
import time

import checks
import harness
import market

BLOCK = ("chart",) * 3 + ("watch",) * 3 + ("ask",) * 4
#: Three blocks: 30 requests, so the tail (ten samples above it) is the
#: second-fastest ask and the median sits among the watch requests.
MIN_BLOCKS = 3
#: Nominal seconds per block on a 4-core host: ``max(MIN_BLOCKS,
#: round(seconds / BLOCK_S))`` blocks, fixed before the run.
BLOCK_S = 7.0
#: Warm requests of each type before the timed phase.
WARM_EACH = 2
_TOPICS = ["profit", "outlook", "dividend", "orders", "margins", "guidance", "rating"]
_HORIZON_S = 14 * 86400.0


def _embed_query(text: str) -> list[float]:
    import pandas as pd

    from market_analyze_data_stream_processing_spark.operators.enrich import (
        EMBEDDING_DIM,
        _hash_projection_embed,
    )

    return [float(x) for x in _hash_projection_embed(pd.Series([text]), dim=EMBEDDING_DIM)[0]]


class Client:
    """Builds and runs seeded requests against the stored tables."""

    def __init__(self, spark, mk: market.Market, seed: int, now: float) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(mk.docs_path)
        self.history = spark.read.parquet(mk.history_path)
        self.now = now
        self.rng = random.Random(seed)
        self.tickers = mk.feed.tickers()

    def request(self, kind: str) -> dict:
        """A seeded request: its kind and arguments."""
        tk = self.rng.choice(self.tickers)
        if kind == "ask":
            topic = self.rng.choice(_TOPICS)
            return {"kind": kind, "ticker": tk, "question": f"What moved {tk} {topic}?"}
        return {"kind": kind, "ticker": tk}

    def execute(self, req: dict):
        from market_analyze_data_stream_processing_spark.operators.retrieval import (
            RouterQuery,
        )
        from market_analyze_data_stream_processing_spark.operators.serving import (
            chart_frame,
            market_watch,
        )
        from market_analyze_data_stream_processing_spark.rag import get_answer

        if req["kind"] == "watch":
            return market_watch(self.docs, self.now).collect()
        if req["kind"] == "chart":
            return chart_frame(self.history, req["ticker"]).collect()
        route = RouterQuery(req["ticker"], self.now - _HORIZON_S, self.now, "REAL_TIME")
        return get_answer(self.docs, req["question"], embed_query=_embed_query,
                          router=lambda _q, _now: route, now=self.now).sources


def _traced(client: Client, req: dict, run: harness.Run, spark, op: int,
            engine: bool) -> tuple[object, float]:
    """One request inside a ``dashboard.<kind>`` span; its stages feed
    the engine and executor layers when ``engine`` is set."""
    kind, tr, lay = req["kind"], run.tracer, run.layers
    floor = harness.max_stage_id(spark)
    t0 = time.perf_counter()
    with tr.span(f"dashboard.{kind}", op):
        res = client.execute(req)
    lat = time.perf_counter() - t0
    records = harness.stage_records(spark, floor)
    lay.add(f"dashboard.{kind}_s", lat)
    if kind == "ask":
        lay.add("dashboard.ask_input_mb",
                sum(r["input_mb"] for r in records if not r["skipped"]))
    if engine:
        harness.add_stages(lay, records)
        lay.add("engine.execute_s", lat)
        lay.add("engine.driver_s", lat - harness.run_s(records) / run.cores)
    return res, lat


def _count_kinds(reqs: list[dict], per: dict[str, int]) -> None:
    for kind in ("watch", "chart", "ask"):
        per[f"dashboard.{kind}_s"] = sum(r["kind"] == kind for r in reqs)
    per["dashboard.ask_input_mb"] = per["dashboard.ask_s"]


def traced_block(run: harness.Run, spark, mk: market.Market, now: float, con,
                 per: dict[str, int]) -> int:
    """One block of requests over ``mk``'s stores, traced and checked;
    returns the number of failed requests. Used by the ``ingest`` traced
    run to measure the serving layer over the store it wrote."""
    client = Client(spark, mk, run.seed, now)
    for kind in ("chart", "watch", "ask"):
        client.execute(client.request(kind))  # warm
    kinds = list(BLOCK)
    random.Random(run.seed + 2).shuffle(kinds)
    reqs = [client.request(k) for k in kinds]
    results = [_traced(client, r, run, spark, i, engine=False)[0] for i, r in enumerate(reqs)]
    _count_kinds(reqs, per)
    return _check(run, mk, client, reqs, results, con)


def run(ctx: harness.Run, spark) -> dict:
    mk = market.Market(spark, ctx.work, ctx.seed)
    backfill = market.SMOKE_BACKFILL_CYCLES if ctx.smoke else market.BACKFILL_CYCLES
    with ctx.phase("inputs"):
        mk.land_backfill(backfill)
    with ctx.phase("backfill"):
        mk.consume()
    client = Client(spark, mk, ctx.seed, mk.feed.now_after(backfill))
    with ctx.phase("warmup"):
        for kind in ("chart", "watch", "ask") * WARM_EACH:
            client.execute(client.request(kind))

    rng = random.Random(ctx.seed + 1)
    reqs: list[dict] = []
    results: list = []
    latencies: list[float] = []
    ctx.start_timed()
    t_start = time.perf_counter()
    blocks = max(MIN_BLOCKS, round(ctx.seconds / BLOCK_S))
    for _ in range(blocks):
        kinds = list(BLOCK)
        rng.shuffle(kinds)
        for kind in kinds:
            req = client.request(kind)
            if ctx.tracer is None:
                t0 = time.perf_counter()
                res = client.execute(req)
                lat = time.perf_counter() - t0
            else:
                res, lat = _traced(client, req, ctx, spark, len(latencies), engine=True)
            reqs.append(req)
            results.append(res)
            latencies.append(lat)
    ctx.end_timed(time.perf_counter() - t_start)

    con = checks.duck()
    failed = _check(ctx, mk, client, reqs, results, con)
    per: dict[str, int] = {}
    if ctx.tracer is not None:
        mk.store_facts(ctx.layers, con)
        _count_kinds(reqs, per)
        ctx.span_sum_ratio = (sum(
            ctx.tracer.total(f"dashboard.{k}") for k in ("watch", "chart", "ask")
        ) / sum(latencies))
    con.close()
    return {
        "latencies": latencies,
        "failed": failed,
        "ops": [r["kind"] for r in reqs],
        "per": per,
        "lineitem": harness.probe_lineitem(ctx.work, ctx.seed),
        "detail": {"blocks": blocks, "backfill_cycles": backfill},
    }


def _check(ctx: harness.Run, mk: market.Market, client: Client, reqs: list[dict],
           results: list, con) -> int:
    """Each request against DuckDB over the same stored parquet."""
    docs, history = mk.docs_glob(), mk.history_glob()
    watch_ref = checks.watch_reference(con, docs)
    if ctx.corrupt_reference:
        watch_ref = checks.corrupt_watch(watch_ref)
    charts: dict[str, list] = {}
    failed = 0
    for req, res in zip(reqs, results):
        kind, tk = req["kind"], req["ticker"]
        if kind == "watch":
            ok = checks.watch_ok(res, watch_ref)
        elif kind == "chart":
            if tk not in charts:
                charts[tk] = checks.chart_reference(con, history, tk)
                if ctx.corrupt_reference:
                    charts[tk] = charts[tk][1:]
            ok = checks.chart_ok(res, charts[tk])
        else:
            ref = checks.ask_reference(
                con, docs, _embed_query(req["question"]), tk, client.now - _HORIZON_S,
                client.now, client.now, "REAL_TIME")
            if ctx.corrupt_reference:
                ref = ref[1:]
            ok = checks.ask_ok(res, ref)
        if not ok:
            harness.log(f"dashboard: {kind} {tk} differs from its DuckDB reference")
        failed += not ok
    return failed
