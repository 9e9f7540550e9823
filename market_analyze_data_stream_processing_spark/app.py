"""Terminal dashboard shell — the reference's Streamlit app
(src/app/main.py:219-487) re-expressed as a dependency-free CLI over the
engine's serving projections.

The reference renders three surfaces from its doc store: a sidebar
market watch (main.py:156-217), a per-ticker price chart with MA
overlays (main.py:87-153), and a RAG query panel with typed sources
(main.py:344-487). This module renders the same three surfaces as plain
text. It is PURE PRESENTATION: every number comes from
``operators/serving.py`` / ``operators/messages.py`` / ``rag.py`` —
nothing is recomputed here, so the shell inherits the engine's
oracle-checked semantics (and its scale shape: the only driver-side
rows are the frames the screen shows, O(tickers + chart width + top-8)).

Run::

    python -m market_analyze_data_stream_processing_spark.app \
        --sf-dir /root/testdata/sf0.01 --ticker click \
        --ask "what moved today?"
"""

from __future__ import annotations

import argparse
import sys
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Frame construction (engine side: everything distributed until .collect()
# of screen-sized results)
# ---------------------------------------------------------------------------


def build_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events → bar stream stand-in: (ticker, ts, price, seq), the same
    lowering the oracle-checked market queries use."""
    from .sources.tables import load_table

    return load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("ticker"),
        "ts",
        F.col("value").alias("price"),
        F.col("event_id").alias("seq"),
    )


def build_daily(bars: DataFrame) -> DataFrame:
    """Daily OHLCV bar table shaped for the message/serving operators."""
    from .operators.analytics import daily_summary

    daily = daily_summary(
        bars, value_col="price", volume_col=None, key="ticker", ts_col="ts",
        seq_col="seq", round_to=9,
    )
    return daily.select(
        "ticker", F.col("day").alias("date"),
        F.col("open_px").alias("Open"), F.col("close_px").alias("Close"),
        F.col("high_px").alias("High"), F.col("low_px").alias("Low"),
        F.col("n_bars").alias("Volume"),
    )


def data_now(bars: DataFrame) -> float:
    """Deterministic 'now': one minute past the newest bar (wall-clock
    would make freshness strings nondeterministic on a fixed dataset)."""
    latest = bars.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    # max() over zero bars is NULL — an empty feed renders empty panels
    # (epoch-zero clock) instead of crashing the dashboard.
    return float(latest) + 60.0 if latest is not None else 60.0


def build_watch_docs(daily: DataFrame, bars: DataFrame) -> DataFrame:
    """The market-watch slice of the doc store: latest close + previous
    close per ticker in the intraday_metrics shape serving.market_watch
    reads (main.py:156-217). Freshness timestamps come from the bar
    table itself (max ts per ticker), not from a caller-supplied clock."""
    from pyspark.sql import Window

    w = Window.partitionBy("ticker").orderBy("date")
    latest = (
        daily.withColumn("last_close", F.lag("Close").over(w))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("ticker").orderBy(F.desc("date"))),
        )
        .where(F.col("rn") == 1)
    )
    ts = bars.groupBy("ticker").agg(
        F.max(F.unix_timestamp("ts")).cast("double").alias("timestamp")
    )
    return latest.join(ts, "ticker").select(
        F.concat(F.lit("LATEST_METRICS_"), F.col("ticker")).alias("id"),
        "ticker",
        F.lit("intraday_metrics").alias("type"),
        F.col("Close").alias("current_price"),
        F.coalesce("last_close", F.lit(0.0)).alias("last_close"),
        "timestamp",
        F.lit("EUR").alias("currency"),
        F.lit("REGULAR").alias("market_state"),
    )


def build_doc_store(
    spark: SparkSession, sf_dir: str, now: float, bars: DataFrame, daily: DataFrame
) -> DataFrame:
    """Batch twin of the consumer's doc store (consumer.py:140-178): the
    three producer message families, embedded and sentiment-scored, in
    the schema rag.get_answer retrieves from."""
    from .operators.enrich import make_embedding_udf, make_sentiment_udf
    from .operators.messages import (
        daily_summary_messages,
        intraday_metrics_messages,
        technical_messages,
    )
    zero = F.lit(0.0)

    d = daily_summary_messages(daily, publish_time=F.lit(int(now - 3600))).select(
        F.concat(F.lit("DAILY_"), F.col("ticker")).alias("id"),
        "ticker", "type", F.col("publish_time").cast("double").alias("timestamp"),
        F.col("summary").alias("document"), "link",
        zero.alias("current_price"), zero.alias("price_10min_ago"),
        zero.alias("price_1h_ago"), zero.alias("mean_50"), zero.alias("mean_200"),
        F.lit("EUR").alias("currency"),
    )
    five_min = bars.select("ticker", F.col("seq").alias("bar_ts"), F.col("price").alias("Close"))
    i = intraday_metrics_messages(five_min, publish_time=F.lit(int(now - 60))).select(
        "id", "ticker", "type", F.col("publish_time").cast("double").alias("timestamp"),
        F.col("summary").alias("document"), F.lit("#").alias("link"),
        "current_price", "price_10min_ago", "price_1h_ago",
        zero.alias("mean_50"), zero.alias("mean_200"), "currency",
    )
    t = technical_messages(daily, publish_time=F.lit(int(now - 1800))).select(
        "id", "ticker", "type", F.col("publish_time").cast("double").alias("timestamp"),
        F.col("summary").alias("document"), F.lit("#").alias("link"),
        "current_price", zero.alias("price_10min_ago"), zero.alias("price_1h_ago"),
        "mean_50", "mean_200", "currency",
    )
    docs = d.unionByName(i).unionByName(t)
    embed = make_embedding_udf()
    sent = make_sentiment_udf(use_real_model=False)
    return docs.select(
        "*",
        embed(F.col("document")).alias("embedding"),
        sent(F.col("document")).alias("sentiment"),
    )


# ---------------------------------------------------------------------------
# Rendering (pure functions over collected screen-sized rows — unit-tested
# without Spark)
# ---------------------------------------------------------------------------


def fmt_table(headers: Sequence[str], rows: Sequence[Sequence[object]]) -> str:
    cells = [[str(h) for h in headers]] + [[str(c) for c in r] for r in rows]
    widths = [max(len(r[i]) for r in cells) for i in range(len(headers))]
    out = []
    for n, r in enumerate(cells):
        out.append("  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip())
        if n == 0:
            out.append("  ".join("-" * w for w in widths))
    return "\n".join(out)


def ascii_chart(
    series: dict[str, list[float | None]],
    width: int = 64,
    height: int = 12,
) -> str:
    """Plot aligned series in one character grid. First series gets '*',
    later ones '.', '~' (the MA-overlay markers); None values are gaps
    (the MA gating the reference renders as missing line segments)."""
    marks = "*.~+"
    vals = [v for s in series.values() for v in s if v is not None]
    if not vals:
        return "(no data)"
    lo, hi = min(vals), max(vals)
    span = (hi - lo) or 1.0
    n = max(len(s) for s in series.values())
    cols = min(width, n)
    grid = [[" "] * cols for _ in range(height)]
    for si, (_, s) in enumerate(series.items()):
        mark = marks[si % len(marks)]
        for x in range(cols):
            idx = (len(s) - cols) + x if len(s) >= cols else x
            if idx < 0 or idx >= len(s) or s[idx] is None:
                continue
            y = round((s[idx] - lo) / span * (height - 1))
            grid[height - 1 - y][x] = mark
    legend = "   ".join(
        f"{marks[i % len(marks)]} {name}" for i, name in enumerate(series)
    )
    body = "\n".join(f"|{''.join(row)}" for row in grid)
    return (
        f"{hi:>10.2f}\n{body}\n{lo:>10.2f} +{'-' * cols}\n           {legend}"
    )


_DELTA_ARROWS = {1: "▲", 0: "·", -1: "▼"}


def render_market_watch(rows: Sequence) -> str:
    """Sidebar market watch (main.py:156-217): ticker, price, signed
    delta%% with direction arrow, freshness."""
    table = [
        (
            r["ticker"],
            f"{r['price']:.2f} {r['currency']}",
            f"{_DELTA_ARROWS[(r['delta_pct'] > 0) - (r['delta_pct'] < 0)]} "
            f"{r['delta_pct']:+.2f}%",
            r["market_state"],
            r["freshness"],
        )
        for r in rows
    ]
    return "== MARKET WATCH ==\n" + fmt_table(
        ["ticker", "price", "delta", "state", "updated"], table
    )


def render_chart(rows: Sequence, ticker: str, width: int = 64, height: int = 12) -> str:
    """Main chart (main.py:87-153): daily closes + MA10 always, MA50 only
    once its window fills — gaps stay gaps, as in the reference UI."""
    series: dict[str, list[float | None]] = {
        "close": [r["Close"] for r in rows],
        "ma10": [r["ma10"] for r in rows],
        "ma50": [r["ma50"] for r in rows],
    }
    head = f"== {ticker} · {len(rows)} sessions =="
    if rows:
        head += f"  {rows[0]['date']} → {rows[-1]['date']}"
    return head + "\n" + ascii_chart(series, width=width, height=height)


def build_indicator_rows(bars: DataFrame) -> list:
    """Latest-per-ticker technical snapshot from the oracle-checked
    indicator operators (q_bollinger/q_rsi/q_macd/q_drawdown semantics):
    per-row indicators stay distributed; only the tie-robust last row
    per ticker (O(tickers)) reaches the driver."""
    from .operators.indicators import macd_blocked, with_bollinger, with_rsi

    w = (
        Window.partitionBy("ticker")
        .orderBy("ts", "seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = F.max("price").over(w)
    # zero running peak (series opening at 0) -> NULL, not an ANSI
    # DIVIDE_BY_ZERO crash (same guard as q_drawdown)
    per_row = with_rsi(with_bollinger(bars)).withColumn(
        "drawdown", F.when(peak != 0.0, F.col("price") / peak - 1.0)
    )
    macd = macd_blocked(bars).select(
        "ticker", F.col("seq").alias("mseq"), "macd", "signal", "histogram"
    )
    joined = per_row.join(
        macd,
        (per_row["ticker"] == macd["ticker"]) & (per_row["seq"] == macd["mseq"]),
    ).drop(macd["ticker"]).drop("mseq")
    order = F.struct(F.col("ts"), F.col("seq"))
    cols = ["price", "rsi", "bb_lower", "bb_upper", "drawdown", "macd",
            "signal", "histogram"]
    latest = joined.groupBy("ticker").agg(
        *[F.max_by(c, order).alias(c) for c in cols]
    )
    return latest.orderBy("ticker").collect()


def render_indicators(rows: Sequence) -> str:
    """Technical snapshot table: RSI, Bollinger %B, MACD histogram and
    drawdown per ticker — the indicator families layered over the
    reference's MA-only panel."""

    def pct_b(r):
        lo, hi = r["bb_lower"], r["bb_upper"]
        if lo is None or hi is None or hi == lo:
            return "—"
        return f"{(r['price'] - lo) / (hi - lo):.2f}"

    table = [
        (
            r["ticker"],
            f"{r['price']:.2f}",
            "—" if r["rsi"] is None else f"{r['rsi']:.1f}",
            pct_b(r),
            f"{r['histogram']:+.4f}",
            "—" if r["drawdown"] is None else f"{r['drawdown'] * 100:+.2f}%",
        )
        for r in rows
    ]
    return "== INDICATORS ==\n" + fmt_table(
        ["ticker", "close", "rsi14", "%B", "macd-hist", "drawdown"], table
    )


def render_sources(sources: Sequence[dict]) -> str:
    """Typed source rows under the RAG answer (main.py:430-487) — same
    type markers as the context formatter."""
    icons = {"daily_summary": "📊", "technical": "📈", "intraday_metrics": "🗓️"}
    lines = []
    for s in sources:
        icon = icons.get(s["type"], "📰")
        lines.append(
            f"{icon} [{s['type']}] {s['ticker']}  sentiment={s['sentiment']:+.2f}  "
            f"{s['title']}"
        )
    return "== SOURCES ==\n" + "\n".join(lines)


# ---------------------------------------------------------------------------
# CLI
# ---------------------------------------------------------------------------


def run_dashboard(
    spark: SparkSession,
    sf_dir: str,
    ticker: str | None = None,
    ask: str | None = None,
    width: int = 64,
    height: int = 12,
    indicators: bool = False,
    out=None,
) -> None:
    from .operators.serving import chart_frame, market_watch

    out = out or sys.stdout
    bars = build_bars(spark, sf_dir)
    daily = build_daily(bars)
    now = data_now(bars)

    watch = market_watch(build_watch_docs(daily, bars), now)
    watch_rows = watch.orderBy("ticker").collect()
    print(render_market_watch(watch_rows), file=out)

    if indicators:
        print(file=out)
        print(render_indicators(build_indicator_rows(bars)), file=out)

    if ticker is None and watch_rows:
        ticker = watch_rows[0]["ticker"]
    if ticker:
        chart_rows = chart_frame(daily, ticker).collect()
        print(file=out)
        print(render_chart(chart_rows, ticker, width=width, height=height), file=out)

    if ask:
        import pandas as pd

        from .operators.enrich import EMBEDDING_DIM, _hash_projection_embed
        from .rag import get_answer

        def embed_query(text: str) -> list[float]:
            return [
                float(x)
                for x in _hash_projection_embed(pd.Series([text]), dim=EMBEDDING_DIM)[0]
            ]

        docs = build_doc_store(spark, sf_dir, now, bars, daily)
        res = get_answer(docs, ask, embed_query=embed_query, now=now)
        print(file=out)
        print(f"== RAG: {ask} ==", file=out)
        print(res.answer, file=out)
        print(file=out)
        print(render_sources(res.sources), file=out)


def main(argv: Sequence[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--ticker", default=None, help="chart ticker (default: first)")
    p.add_argument("--ask", default=None, help="RAG query for the answer panel")
    p.add_argument("--width", type=int, default=64)
    p.add_argument("--height", type=int, default=12)
    p.add_argument(
        "--indicators", action="store_true",
        help="show the RSI/Bollinger/MACD/drawdown snapshot panel",
    )
    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark("dashboard")
    spark.sparkContext.setLogLevel("ERROR")
    run_dashboard(
        spark, args.sf_dir, ticker=args.ticker, ask=args.ask,
        width=args.width, height=args.height, indicators=args.indicators,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
