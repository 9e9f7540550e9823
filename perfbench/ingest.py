"""``ingest`` workload: open loop over the streaming write path.

The producer schedule is fixed: producer cycle ``c`` is due at
``t0 + c * INTERVAL_S``. One producer cycle is one newline-JSON file
(10 tickers × 3 news, 1 intraday_metrics, 1 technical and 1 stock-history
bar, plus a daily summary per ticker at each simulated day roll). The
consumer runs back-to-back consumer cycles in the same thread: before
each it lands every file whose due time has passed (or, when nothing is
due, waits for the next), then runs one consumer cycle
(:meth:`market.Market.consume`). An operation is one producer cycle; its
latency runs from its due time to the commit of the consumer cycle that
contained it, so a stall also delays every later cycle.

Setup backfills the store (the first, cold, consumer cycle) and runs
warm cycles over a few extra producer cycles.
"""

from __future__ import annotations

import math
import time

import checks
import dashboard
import harness
import market

#: One producer cycle is due every INTERVAL_S seconds. A steady consumer
#: cycle takes about 3.6 s on a 4-core host (Spark local[4]), so each
#: consumer cycle merges about three producer cycles.
INTERVAL_S = 1.2
#: Producer cycles in a run, at least: enough for a tail percentile with
#: ten samples above it, at any --seconds.
MIN_CYCLES = 14
WARM_CYCLES = 1


def run(ctx: harness.Run, spark) -> dict:
    mk = market.Market(spark, ctx.work, ctx.seed)
    backfill = market.SMOKE_BACKFILL_CYCLES if ctx.smoke else market.BACKFILL_CYCLES
    n_cycles = max(MIN_CYCLES, math.ceil(ctx.seconds / INTERVAL_S))
    first = backfill + WARM_CYCLES
    with ctx.phase("inputs"):
        mk.land_backfill(backfill)
        msgs = {c: mk.feed.cycle(c) for c in range(first, first + n_cycles)}
    with ctx.phase("backfill"):
        mk.consume()
    with ctx.phase("warmup"):
        for c in range(backfill, first):
            mk.land_cycle(c)
            mk.consume()

    tr, lay = ctx.tracer, ctx.layers
    latencies: list[float] = []
    wait: list[float] = []
    consumer_cycles = 0
    ctx.start_timed()
    t0 = time.perf_counter()
    due = [t0 + i * INTERVAL_S for i in range(n_cycles)]
    nxt = 0  # next producer cycle to land
    while len(latencies) < n_cycles:
        now = time.perf_counter()
        if due[nxt] > now:
            time.sleep(due[nxt] - now)
        now = time.perf_counter()
        batch = []
        while nxt < n_cycles and due[nxt] <= now:
            mk.land(f"cycle-{first + nxt:06d}", msgs[first + nxt])
            batch.append(nxt)
            nxt += 1
        if tr is None:
            start = time.perf_counter()
            mk.consume()
            commit = time.perf_counter()
        else:
            floor = harness.max_stage_id(spark)
            start = time.perf_counter()
            mk.consume(tr, consumer_cycles, lay)
            commit = time.perf_counter()
            records = harness.stage_records(spark, floor)
            harness.add_stages(lay, records)
            execute_s = tr.total_op("streaming.await", consumer_cycles)
            lay.add("streaming.start_s", tr.total_op("streaming.start", consumer_cycles))
            lay.add("engine.execute_s", execute_s)
            lay.add("engine.driver_s", execute_s - harness.run_s(records) / ctx.cores)
        consumer_cycles += 1
        for i in batch:
            latencies.append(commit - due[i])
            wait.append(start - due[i])
        if tr is not None:
            for i in batch:
                lay.add("ingest.wait_s", start - due[i])
                lay.add("ingest.service_s", commit - start)
    timed = time.perf_counter() - t0
    ctx.end_timed(timed)

    # Output check, outside the timed window: both stores must equal
    # keep-last per key over every landed message.
    con = checks.duck()
    ref = checks.ingest_reference(con, mk.landing_glob())
    if ctx.corrupt_reference:
        ref = checks.corrupt_store(ref)
    stored = checks.stored_stores(con, mk.docs_glob(), mk.history_glob())
    ok = checks.stores_match(stored, ref)
    if not ok:
        harness.log("ingest: stores differ from keep-last over the landed messages")
    per: dict[str, int] = {}
    attempted, failed = len(latencies), 0 if ok else len(latencies)
    if tr is not None:
        mk.store_facts(lay, con)
        ctx.span_sum_ratio = ((sum(wait) + sum(lat - w for lat, w in zip(latencies, wait)))
                / sum(latencies))
        # The serving layer, read over the store this run wrote: one
        # block of dashboard requests, checked like every operation.
        failed += dashboard.traced_block(ctx, spark, mk, mk.feed.now_after(first + n_cycles),
                                         con, per)
        attempted += len(dashboard.BLOCK)
    con.close()
    return {
        "latencies": latencies,
        "attempted": attempted,
        # the stores are checked as a whole: a mismatch fails every
        # producer cycle the run landed
        "failed": failed,
        "per": per,
        "lineitem": harness.probe_lineitem(ctx.work, ctx.seed),
        "detail": {"consumer_cycles": consumer_cycles, "producer_cycles": n_cycles,
                   "backfill_cycles": backfill, "wait_s": wait,
                   "late_s": max(0.0, timed - n_cycles * INTERVAL_S)},
    }

