"""Output checks: every operation's result against an independent
DuckDB reference. All of it runs outside the timed window.

- analytics: an order-insensitive digest of each query's output is
  taken by ``Observation`` in the same execution as the noop sink, and
  compared with the same digest of the registry's DuckDB oracle run on
  the same parquet files;
- dashboard: watch rows, chart rows and the ask top-8 ids against DuckDB
  over the stored parquet the requests read;
- ingest: both stores against keep-last per key over every landed
  message, computed by DuckDB from the landed JSON.

``corrupt`` perturbs a reference, so a test can show that a wrong
reference fails the operation.
"""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Relative tolerance for floating-point digest components, scaled by
#: the column's sum of magnitudes.
FLOAT_RTOL = 1e-6


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    return con


# ---------------------------------------------------------------------------
# Analytics: query-output digest
# ---------------------------------------------------------------------------


def _kind(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "float"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.ArrayType):
        return "array"
    return "other"


def digest_plan(df: DataFrame) -> list[tuple[str, str]]:
    """(column, kind) pairs the digest covers, from the Spark schema."""
    return [(f.name, _kind(f.dataType)) for f in df.schema.fields]


def spark_digest_exprs(plan: list[tuple[str, str]]) -> list[Column]:
    exprs = [F.count(F.lit(1)).alias("n")]
    for i, (name, kind) in enumerate(plan):
        c = F.col(f"`{name}`")
        exprs.append(F.count(c).alias(f"c{i}_nn"))
        if kind == "int":
            exprs.append(F.sum(c.cast("decimal(38,0)")).alias(f"c{i}_sum"))
        elif kind == "float":
            d = c.cast("double")
            ok = ~F.isnan(d)
            exprs += [
                F.sum(F.when(ok, d)).alias(f"c{i}_sum"),
                F.sum(F.when(ok, F.abs(d))).alias(f"c{i}_abs"),
                F.count(F.when(F.isnan(d), 1)).alias(f"c{i}_nan"),
            ]
        elif kind == "str":
            h = F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("decimal(38,0)")
            exprs.append(F.sum(h).alias(f"c{i}_sum"))
        elif kind == "bool":
            exprs.append(F.sum(c.cast("int")).alias(f"c{i}_sum"))
        elif kind == "date":
            exprs.append(F.sum(F.unix_date(c)).alias(f"c{i}_sum"))
        elif kind == "ts":
            exprs.append(F.sum(F.unix_micros(c.cast("timestamp"))).alias(f"c{i}_sum"))
        elif kind == "array":
            exprs.append(F.sum(F.size(c)).alias(f"c{i}_sum"))
    return exprs


def duck_digest_sql(plan: list[tuple[str, str]], inner_sql: str) -> str:
    parts = ["count(*) AS n"]
    for i, (name, kind) in enumerate(plan):
        c = f'r."{name}"'
        parts.append(f"count({c}) AS c{i}_nn")
        if kind == "int":
            parts.append(f"sum(CAST({c} AS HUGEINT)) AS c{i}_sum")
        elif kind == "float":
            d = f"CAST({c} AS DOUBLE)"
            parts += [
                f"sum({d}) FILTER (WHERE NOT isnan({d})) AS c{i}_sum",
                f"sum(abs({d})) FILTER (WHERE NOT isnan({d})) AS c{i}_abs",
                f"count(*) FILTER (WHERE isnan({d})) AS c{i}_nan",
            ]
        elif kind == "str":
            parts.append(
                f"sum(CAST(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 12)) AS BIGINT)"
                f"::HUGEINT) AS c{i}_sum"
            )
        elif kind == "bool":
            parts.append(f"sum(CAST({c} AS INTEGER)) AS c{i}_sum")
        elif kind == "date":
            parts.append(f"sum(date_diff('day', DATE '1970-01-01', CAST({c} AS DATE)))"
                         f" AS c{i}_sum")
        elif kind == "ts":
            parts.append(f"sum(epoch_us(CAST({c} AS TIMESTAMP))) AS c{i}_sum")
        elif kind == "array":
            parts.append(f"sum(len({c})) AS c{i}_sum")
    return f"WITH r AS ({inner_sql}) SELECT {', '.join(parts)} FROM r"


def oracle_digest(con, plan: list[tuple[str, str]], oracle_sql: str) -> dict:
    cur = con.execute(duck_digest_sql(plan, oracle_sql))
    names = [d[0] for d in cur.description]
    return dict(zip(names, cur.fetchone()))


def register_tables(con, data_dir: str) -> None:
    """A DuckDB view per registry table, as the oracles expect."""
    from market_analyze_data_stream_processing_spark.sources.tables import TABLE_NAMES

    for t in TABLE_NAMES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")


def _num(v):
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    return v


def digest_matches(got: dict, ref: dict) -> bool:
    """Integer components must be equal; float sums agree to
    ``FLOAT_RTOL`` of the column's magnitude sum."""
    for key, want in ref.items():
        if key.endswith("_abs"):
            continue
        have = _num(got.get(key))
        want = _num(want)
        if have is None or want is None:
            if have != want:
                return False
            continue
        if isinstance(have, float) or isinstance(want, float):
            scale = _num(ref.get(key[:-4] + "_abs")) if key.endswith("_sum") else None
            tol = FLOAT_RTOL * max(1.0, abs(float(scale or 0.0))) + 1e-9
            if math.isnan(float(have)) or abs(float(have) - float(want)) > tol:
                return False
        elif int(have) != int(want):
            return False
    return True


def corrupt(ref: dict) -> dict:
    """A wrong reference: one more row than the oracle returned."""
    return {**ref, "n": int(ref["n"]) + 1}


# ---------------------------------------------------------------------------
# Dashboard
# ---------------------------------------------------------------------------


def _close(a, b, tol: float = 1e-6) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= tol * max(1.0, abs(float(b)))


def watch_reference(con, docs_glob: str) -> dict[str, tuple]:
    """Latest intraday_metrics doc per ticker (by timestamp, id):
    ticker -> (price, delta_pct), as ``serving.market_watch`` computes
    them before formatting."""
    rows = con.execute(f"""
        WITH m AS (
            SELECT *, row_number() OVER (PARTITION BY ticker
                                         ORDER BY "timestamp" DESC, id DESC) AS rn
            FROM read_parquet('{docs_glob}', hive_partitioning = true)
            WHERE type = 'intraday_metrics')
        SELECT ticker, current_price,
               CASE WHEN last_close IS NULL OR last_close = 0 THEN 0.0
                    ELSE (current_price - last_close) / last_close * 100.0 END
        FROM m WHERE rn = 1""").fetchall()
    return {t: (p, d) for t, p, d in rows}


def watch_ok(rows, ref: dict[str, tuple]) -> bool:
    if sorted(r["ticker"] for r in rows) != sorted(ref):
        return False
    for r in rows:
        price, delta = ref[r["ticker"]]
        # Spark rounds HALF_UP to 2 places; allow the last-place step
        if not (_close(r["price"], price, 0) or abs(r["price"] - price) <= 0.005 + 1e-9):
            return False
        if abs(r["delta_pct"] - delta) > 0.005 + 1e-9:
            return False
    return True


def chart_reference(con, history_glob: str, ticker: str) -> list[tuple]:
    return con.execute(f"""
        WITH h AS (SELECT * FROM read_parquet('{history_glob}', hive_partitioning = true)
                   WHERE ticker = ?)
        SELECT date, "Open", "High", "Low", "Close", "Volume",
               avg("Close") OVER w10,
               CASE WHEN count(*) OVER w50 >= 50 THEN avg("Close") OVER w50 END
        FROM h
        WINDOW w10 AS (ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
               w50 AS (ORDER BY date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
        ORDER BY date""", [ticker]).fetchall()


def chart_ok(rows, ref: list[tuple]) -> bool:
    if len(rows) != len(ref):
        return False
    for r, (date, o, h, lo, c, v, ma10, ma50) in zip(rows, ref):
        if r["date"] != date or r["Volume"] != v:
            return False
        if not all(_close(r[k], x) for k, x in (("Open", o), ("High", h), ("Low", lo),
                                                  ("Close", c))):
            return False
        if abs(r["ma10"] - ma10) > 1e-4 + 1e-9:  # Spark rounds to 4 places
            return False
        if (r["ma50"] is None) != (ma50 is None):
            return False
        if ma50 is not None and abs(r["ma50"] - ma50) > 1e-4 + 1e-9:
            return False
    return True


def ask_reference(con, docs_glob: str, qv: list[float], ticker: str | None,
                  start: float, end: float, now: float, intent: str,
                  k: int = 20, top: int = 8) -> list[tuple]:
    """``retrieval.retrieve``'s top-``top`` docs as (ticker, type,
    timestamp, source title): filter, cosine top-k, dedup on (ticker,
    trunc(timestamp), type), composite score, top-n."""
    where = "\"timestamp\" BETWEEN ? AND ?" + (" AND ticker = ?" if ticker else "")
    params: list = [start, end] + ([ticker] if ticker else [])
    vec = "[" + ",".join(repr(float(x)) for x in qv) + "]::DOUBLE[]"
    score = ("sim" if intent == "HISTORICAL"
             else f"0.6 * sim + 0.4 * exp(-greatest({now!r} - \"timestamp\", 0) / 14400.0)")
    rows = con.execute(f"""
        WITH f AS (
            SELECT id, ticker, type, "timestamp", document,
                   list_cosine_similarity(CAST(embedding AS DOUBLE[]), {vec}) AS sim
            FROM read_parquet('{docs_glob}', hive_partitioning = true)
            WHERE {where}),
        cand AS (SELECT * FROM f ORDER BY sim DESC, id ASC LIMIT {k}),
        dd AS (
            SELECT *, row_number() OVER (
                PARTITION BY ticker, CAST(trunc("timestamp") AS BIGINT), type
                ORDER BY sim DESC, id ASC) AS rn
            FROM cand)
        SELECT ticker, type, "timestamp", document FROM dd WHERE rn = 1
        ORDER BY {score} DESC, id ASC LIMIT {top}""", params).fetchall()
    return [(tk, typ, ts, (doc or "")[:100] + "...") for tk, typ, ts, doc in rows]


def ask_ok(sources: list[dict], ref: list[tuple]) -> bool:
    """The answer's sources are the reference's top docs (as a set: the
    sources frame is ordered by score alone, so ties may swap)."""
    got = sorted((s["ticker"], s["type"], s["timestamp"], s["title"]) for s in sources)
    want = sorted(ref)
    return len(got) == len(want) and all(
        g[:2] == w[:2] and g[3] == w[3] and _close(g[2], w[2], 1e-12)
        for g, w in zip(got, want))


def corrupt_watch(ref: dict[str, tuple]) -> dict[str, tuple]:
    """A wrong watch reference: every price one cent higher."""
    return {t: (p + 0.01, d) for t, (p, d) in ref.items()}


# ---------------------------------------------------------------------------
# Ingest
# ---------------------------------------------------------------------------


def ingest_reference(con, landing_glob: str) -> tuple[dict, dict]:
    """Keep-last per key over every landed message.

    docs: id -> (timestamp, type, ticker), with the consumer's id ladder
    (technical / intraday_metrics / daily_summary / news) and keep-last
    by timestamp; history: (ticker, date) -> (Close, Volume), keep-last
    by cumulative Volume."""
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW landed AS
        SELECT topic, value FROM read_json('{landing_glob}', format = 'newline_delimited',
            columns = {{'topic': 'VARCHAR', 'key': 'VARCHAR', 'value': 'VARCHAR'}})""")
    docs = con.execute("""
        WITH d AS (
            SELECT json_extract_string(value, '$.type') AS type,
                   json_extract_string(value, '$.ticker') AS ticker,
                   json_extract_string(value, '$.id') AS nid,
                   json_extract_string(value, '$.title') AS title,
                   CAST(json_extract(value, '$.publish_time') AS DOUBLE) AS pt,
                   CAST(json_extract(value, '$.timestamp') AS DOUBLE) AS ts
            FROM landed WHERE topic <> 'stock-history'),
        k AS (
            SELECT *, CASE
                WHEN type = 'technical' THEN 'LATEST_TECH_' || ticker
                WHEN type = 'intraday_metrics' THEN 'LATEST_METRICS_' || ticker
                WHEN type = 'daily_summary' THEN 'DAILY_SUMMARY_' || ticker || '_'
                     || strftime(to_timestamp(CAST(pt AS BIGINT)), '%Y-%m-%d')
                ELSE 'NEWS_' || ticker || '_' || nid END AS id
            FROM d WHERE title IS NOT NULL AND length(title) > 0)
        SELECT id, arg_max(ts, ts), arg_max(type, ts), arg_max(ticker, ts),
               arg_max(title, ts)
        FROM k GROUP BY id""").fetchall()
    hist = con.execute("""
        WITH h AS (
            SELECT json_extract_string(value, '$.ticker') AS ticker,
                   json_extract_string(value, '$.date') AS date,
                   CAST(json_extract(value, '$.Close') AS DOUBLE) AS close,
                   CAST(json_extract(value, '$.Volume') AS BIGINT) AS volume
            FROM landed WHERE topic = 'stock-history')
        SELECT ticker, date, arg_max(close, volume), max(volume)
        FROM h GROUP BY ticker, date""").fetchall()
    return (
        {r[0]: (r[1], r[2], r[3], r[4][:150]) for r in docs},
        {(r[0], r[1]): (r[2], r[3]) for r in hist},
    )


def corrupt_store(ref: tuple[dict, dict]) -> tuple[dict, dict]:
    """A wrong store reference: one doc key missing."""
    docs, hist = ref
    return dict(list(docs.items())[1:]), hist


def stored_stores(con, docs_glob: str, history_glob: str) -> tuple[dict, dict] | None:
    """The stored docs and history rows; ``None`` when a key is stored
    twice (an upsert that failed to replace its earlier row)."""
    docs = con.execute(f"""
        SELECT id, "timestamp", type, ticker, doc
        FROM read_parquet('{docs_glob}', hive_partitioning = true)""").fetchall()
    hist = con.execute(f"""
        SELECT ticker, date, "Close", "Volume"
        FROM read_parquet('{history_glob}', hive_partitioning = true)""").fetchall()
    sd = {r[0]: (r[1], r[2], r[3], r[4]) for r in docs}
    sh = {(r[0], r[1]): (r[2], r[3]) for r in hist}
    if len(sd) != len(docs) or len(sh) != len(hist):
        return None
    return sd, sh


def stores_match(stored: tuple[dict, dict] | None, ref: tuple[dict, dict]) -> bool:
    if stored is None:
        return False
    (sd, sh), (rd, rh) = stored, ref
    if sd.keys() != rd.keys() or sh.keys() != rh.keys():
        return False
    for k, (ts, typ, tk, doc) in rd.items():
        s_ts, s_typ, s_tk, s_doc = sd[k]
        if not _close(s_ts, ts, 1e-12) or (s_typ, s_tk, s_doc) != (typ, tk, doc):
            return False
    return all(_close(sh[k][0], c, 1e-12) and sh[k][1] == v for k, (c, v) in rh.items())
