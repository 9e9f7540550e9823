"""Seeded input generators for the benchmark.

Two families, both pure functions of ``seed``:

- registry tables (region … embeddings) in the schema the registry
  queries and their DuckDB oracles read, written as one parquet file
  per table;
- market producer cycles: the newline-JSON messages one producer cycle
  emits (news, intraday metrics, technical, stock-history bar, and a
  daily summary per ticker at each simulated day roll), shaped as the
  ``(topic, key, value)`` rows ``streaming.ingest.file_json_stream``
  reads.

Nothing here touches Spark: the program under test sees only the files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Registry tables
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "cold", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "widget", "gear", "gizmo", "anvil", "nut"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D")


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated registry corpus."""

    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    users: int
    documents: int
    embeddings: int


#: The analytics corpus: the row counts of the registry's sf0.01 tables.
SCALE_SMALL = Scale(1500, 100, 2000, 15000, 60000, 10000, 1500, 500, 500)
#: The smoke corpus: sf0.001 row counts.
SCALE_TINY = Scale(150, 10, 200, 1500, 6000, 1000, 150, 500, 500)


def _table(cols: dict[str, np.ndarray | list], types: dict[str, pa.DataType]) -> pa.Table:
    return pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})


def registry_tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    """The ten registry tables for ``seed`` at ``scale``."""
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}

    out["region"] = _table(
        {"r_regionkey": np.arange(5), "r_name": _REGIONS},
        {"r_regionkey": i32, "r_name": s},
    )
    out["nation"] = _table(
        {
            "n_nationkey": np.arange(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25) % 5,
        },
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    n = scale.customer
    out["customer"] = _table(
        {
            "c_custkey": np.arange(n),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n),
            "c_acctbal": money(-999.99, 9999.99, n),
            "c_mktsegment": rng.choice(_SEGMENTS, n),
        },
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64,
         "c_mktsegment": s},
    )
    n = scale.supplier
    out["supplier"] = _table(
        {
            "s_suppkey": np.arange(n),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n),
            "s_acctbal": money(-999.99, 9999.99, n),
        },
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    n = scale.part
    out["part"] = _table(
        {
            "p_partkey": np.arange(n),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_PART_ADJ, n), rng.choice(_PART_NOUN, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(_PART_TYPES, n),
            "p_size": rng.integers(1, 51, n),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
        },
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32,
         "p_retailprice": f64},
    )
    n = scale.orders
    order_day = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    out["orders"] = _table(
        {
            "o_orderkey": np.arange(n),
            "o_custkey": rng.integers(0, scale.customer, n),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": money(1000.0, 500000.0, n),
            "o_orderdate": (_EPOCH_1995 + order_day).astype("datetime64[us]"),
            "o_orderpriority": rng.choice(_PRIORITIES, n),
        },
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
         "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s},
    )
    n = scale.lineitem
    l_order = rng.integers(0, scale.orders, n)
    ship_day = order_day[l_order] + rng.integers(1, 96, n)
    out["lineitem"] = _table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, scale.part, n),
            "l_suppkey": rng.integers(0, scale.supplier, n),
            "l_linenumber": rng.integers(1, 8, n),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": (_EPOCH_1995 + ship_day).astype("datetime64[us]"),
        },
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
         "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
         "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts},
    )
    n = scale.events
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n))
    out["events"] = _table(
        {
            "event_id": np.arange(n),
            "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, scale.users, n),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        },
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64,
         "props": s},
    )
    out["documents"] = _documents(rng, scale.documents)
    out["embeddings"] = _embeddings(rng, scale.embeddings)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words docs over a 31-word vocabulary. Every twentieth doc
    is a near-copy (three tokens swapped, ``dup`` appended) of a distinct
    earlier original of at least 40 tokens: the dedup and clustering
    queries find one pair per copy, and the near-dup graph has the same
    shape (isolated pairs) for every seed."""
    texts: list[str] = []
    copied: set[int] = set()
    for i in range(n):
        if i % 20 == 19:
            parent = int(rng.integers(0, i))
            while parent in copied or parent % 20 == 19 or len(texts[parent].split()) < 40:
                parent = (parent + 1) % i
            copied.add(parent)
            toks = texts[parent].split()
            for j in rng.choice(len(toks), 3, replace=False):
                toks[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            toks.append("dup")
        else:
            toks = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(toks))
    return _table(
        {
            "doc_id": np.arange(n),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": [len(t) for t in texts],
        },
        {"doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(),
         "source": pa.string(), "n_chars": pa.int64()},
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around ten label centroids."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    v = centroids[labels] + rng.normal(0.0, 0.8, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), type=pa.int64()),
            "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def write_registry(out_dir: str, seed: int, scale: Scale) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in registry_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Market producer cycles
# ---------------------------------------------------------------------------

TOPIC_NEWS = "financial-news"
TOPIC_HOT = "hot-news-events"
TOPIC_DAILY = "daily-summary"
TOPIC_HISTORY = "stock-history"

_TICKERS = ["AIR", "BNP", "DG", "EN", "KER", "MC", "OR", "RI", "SAN", "SU"]
_NEWS_VERBS = ["gains", "drops", "surge", "falls", "rally", "warning", "beat", "miss",
               "record", "decline", "growth", "losses", "steady", "update"]
_NEWS_OBJ = ["profit", "outlook", "guidance", "dividend", "orders", "margins",
             "sales", "costs", "deal", "rating", "forecast", "buyback"]
_PUBLISHERS = ["Reuters", "Bloomberg", "Les Echos", "FT", "Boursorama"]

#: Simulated time: one producer cycle is 8 hours, so a day rolls every
#: third cycle and a few hundred cycles span a chartable history.
CYCLE_SIM_S = 8 * 3600
CYCLES_PER_DAY = 3
SIM_START = 1_704_067_200.0  # 2024-01-01T00:00:00Z
N_TICKERS = len(_TICKERS)


class MarketFeed:
    """Deterministic producer: ``cycle(c)`` is the message list of
    producer cycle ``c`` for this seed, whatever order cycles are asked
    for in (each cycle draws from its own seeded stream)."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        base = np.random.default_rng(seed)
        self.start_px = base.uniform(20.0, 800.0, N_TICKERS)
        self.drift = base.normal(0.0, 0.004, N_TICKERS)

    def _price(self, c: int) -> np.ndarray:
        """Close of every ticker at cycle ``c`` — a seeded random walk
        evaluated in closed form so any cycle is O(tickers)."""
        rng = np.random.default_rng([self.seed, 7, c + 1])
        noise = rng.normal(0.0, 0.01, N_TICKERS)
        return np.round(self.start_px * np.exp(self.drift * c + 0.05 * np.sin(c / 9.0)
                                                + noise), 4)

    def cycle(self, c: int) -> list[dict]:
        rng = np.random.default_rng([self.seed, 1, c])
        t = SIM_START + c * CYCLE_SIM_S
        day_idx = c // CYCLES_PER_DAY
        day = str(np.datetime64(int(SIM_START // 86400) + day_idx, "D"))
        px, prev = self._price(c), self._price(c - 1)
        msgs: list[dict] = []
        seq = 0

        def doc(topic: str, ticker: str, payload: dict) -> None:
            nonlocal seq
            seq += 1
            # Every message of a cycle gets its own timestamp, so
            # keep-last by timestamp has no ties inside a key.
            payload.setdefault("timestamp", t + seq * 0.001)
            payload["ticker"] = ticker
            msgs.append({"topic": topic, "key": ticker,
                         "value": json.dumps(payload, sort_keys=True)})

        for k, tk in enumerate(_TICKERS):
            for j in range(3):
                # One news item in ten re-sends an earlier id (a
                # correction): the upsert must keep the later version.
                if c > 0 and rng.random() < 0.1:
                    nid = f"n{int(rng.integers(0, c))}-{k}-{j}"
                else:
                    nid = f"n{c}-{k}-{j}"
                verb = _NEWS_VERBS[int(rng.integers(0, len(_NEWS_VERBS)))]
                obj = _NEWS_OBJ[int(rng.integers(0, len(_NEWS_OBJ)))]
                title = f"{tk} {verb} on {obj} (c{c})"
                doc(TOPIC_NEWS, tk, {
                    "id": nid, "title": title,
                    "publisher": _PUBLISHERS[int(rng.integers(0, len(_PUBLISHERS)))],
                    "link": f"https://news.example/{tk}/{nid}",
                    "summary": f"{title}: analysts discuss {obj} and {verb} momentum.",
                    "content": "" if rng.random() < 0.5 else f"Full story on {tk} {obj}.",
                    "publish_time": t, "type": "news", "source": "rss",
                })
            p, q = float(px[k]), float(prev[k])
            doc(TOPIC_HOT, tk, {
                "title": f"{tk} live metrics", "type": "intraday_metrics",
                "publish_time": t, "current_price": p, "last_close": q,
                "price_10min_ago": round(q * 0.999, 4), "price_1h_ago": round(q * 0.995, 4),
                "currency": "EUR", "market_state": "REGULAR",
                "summary": f"{tk} trades at {p:.2f} EUR",
            })
            doc(TOPIC_HOT, tk, {
                "title": f"{tk} technical view", "type": "technical",
                "publish_time": t, "current_price": p,
                "mean_50": round(p * 0.98, 4), "mean_200": round(p * 0.95, 4),
                "summary": f"{tk} above its MA50; trend {'up' if p >= q else 'down'}",
                "currency": "EUR",
            })
            # Cumulative intraday volume grows with every update of the
            # day's bar, so keep-last by Volume is the latest update.
            vol = int(1000 * (c % CYCLES_PER_DAY + 1) + rng.integers(0, 1000))
            lo, hi = min(p, q), max(p, q)
            msgs.append({"topic": TOPIC_HISTORY, "key": tk, "value": json.dumps({
                "ticker": tk, "date": day, "Open": q, "High": round(hi * 1.002, 4),
                "Low": round(lo * 0.998, 4), "Close": p, "Volume": vol,
            }, sort_keys=True)})
            if c % CYCLES_PER_DAY == CYCLES_PER_DAY - 1:
                var = (p - q) / q * 100.0
                doc(TOPIC_DAILY, tk, {
                    "title": f"{tk} daily summary {day}", "type": "daily_summary",
                    "publish_time": t,
                    "summary": (f"Daily summary for {tk} on {day}. Open: {q:.2f} "
                                f"High: {hi:.2f} Low: {lo:.2f} Close: {p:.2f} "
                                f"Variation: {var:.2f}% Volume: {vol}"),
                })
        return msgs

    def now_after(self, cycles: int) -> float:
        """Simulated wall clock just after ``cycles`` producer cycles."""
        return SIM_START + cycles * CYCLE_SIM_S + 60.0

    @staticmethod
    def tickers() -> list[str]:
        return list(_TICKERS)


def write_cycle(path: str, staging_dir: str, msgs: list[dict]) -> None:
    """Write one producer cycle as newline-JSON, atomically: the file is
    written under ``staging_dir`` (same filesystem) and renamed into
    place, so the file source never lists a half-written file."""
    tmp = os.path.join(staging_dir, os.path.basename(path))
    with open(tmp, "w") as f:
        for m in msgs:
            f.write(json.dumps(m) + "\n")
    os.replace(tmp, path)
