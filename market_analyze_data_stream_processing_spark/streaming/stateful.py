"""Custom stateful streaming operators (SURVEY.md §2.9 X7 low-latency
path, §2.10 UDAF surface), each an ``applyInPandasWithState`` operator
with O(live keys) state in the checkpointed state store:

- ``latest_per_key_stateful``: the latest row per key — the reference's
  LATEST_TECH_*/LATEST_METRICS_* live-overwrite semantics without a
  table rewrite per trigger (the lower-latency alternative to the
  foreachBatch merge in ``upsert.py``), bounded by TTL timeouts;
- the streaming twins of batch operators: recursive EWMA, Wilder RSI,
  OBV, anchored VWAP, the Misra-Gries heavy-hitter watchlist, CUSUM
  and SCD Type-2 (``drift.py`` adds the PSI drift monitor).

Two private helpers hold what the operators share. ``_apply`` is the
one ``applyInPandasWithState`` call site. ``_seq_fold`` owns the replay
rule of the six seq-ordered twins: rows at or before the seq already in
state are dropped and duplicate seqs inside a batch collapse to their
first copy, so a replayed micro-batch (restart from a checkpoint, an
at-least-once source) emits identical values exactly once. Each twin
keeps only its pure per-batch ``step`` and its schemas.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _apply(
    stream: DataFrame,
    keys: Sequence[str],
    fn,
    out_schema: StructType,
    state_schema: StructType,
    mode: str = "update",
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """The package's one ``applyInPandasWithState`` call: group
    ``stream`` by ``keys`` and run ``fn`` per key per trigger."""
    return stream.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=mode,
        timeoutConf=timeout,
    )


def _seq_fold(step: Callable, init: tuple):
    """Wrap a pure per-batch ``step(key, state, pdf) -> (out, new_state)``
    into an ``applyInPandasWithState`` function that owns the replay
    rule and the state round trip.

    The state tuple's FIRST field is the last processed seq (``init``
    seeds a new key). The trigger's chunks are concatenated and
    stable-sorted by seq; rows at or before the state's seq are dropped
    (cross-batch replays) and duplicate seqs inside the batch keep their
    first copy (in-batch replays). ``step`` sees only the surviving rows,
    in seq order, and returns the new state itself — the fold never
    derives it — with ``None`` meaning "leave the state as it is"."""

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        parts = [p for p in pdfs if not p.empty]
        if not parts:
            return
        cur = state.get if state.exists else init
        pdf = pd.concat(parts).sort_values("seq", kind="mergesort")
        pdf = pdf[pdf["seq"] > cur[0]].drop_duplicates(subset=["seq"], keep="first")
        if pdf.empty:
            return
        out, new_state = step(key, cur, pdf)
        if new_state is not None:
            state.update(new_state)
        if out is not None:
            yield out

    return fn


LATEST_STATE_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("value", DoubleType()),
        StructField("payload", StringType()),
    ]
)

LATEST_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("value", DoubleType()),
        StructField("payload", StringType()),
    ]
)


def _make_latest_fn(ttl_ms: int | None):
    def _latest_fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        """Keep the max-seq row per key; emit only when it advances.
        With a TTL, a key idle past ``ttl_ms`` is evicted (X6's stateful
        form: bounded state under key churn) — its next arrival starts
        from scratch and re-emits as new. Not a ``_seq_fold``: the TTL
        clock is refreshed by ANY activity, stale rows included."""
        if state.hasTimedOut:
            state.remove()
            return
        best_seq, best_value, best_payload = (
            state.get if state.exists else (-1, None, None)
        )
        changed = False
        for pdf in pdfs:
            if pdf.empty:
                continue
            row = pdf.loc[pdf["seq"].idxmax()]
            if int(row["seq"]) > best_seq:
                best_seq = int(row["seq"])
                best_value = float(row["value"])
                best_payload = str(row["payload"])
                changed = True
        if changed:
            state.update((best_seq, best_value, best_payload))
        if ttl_ms is not None:
            # any activity refreshes the clock; idle keys age out
            state.setTimeoutDuration(ttl_ms)
        if changed:
            yield pd.DataFrame(
                [{"key": key[0], "seq": best_seq, "value": best_value, "payload": best_payload}]
            )

    return _latest_fn


def latest_per_key_stateful(
    stream: DataFrame, key_col: str = "key", ttl_ms: int | None = None
) -> DataFrame:
    """A8/X7 streaming form: latest row per key via applyInPandasWithState.

    Update-mode output: one row per key per trigger IF it changed. State
    is one tuple per live key — at 10 M keys that's MBs per executor,
    partitioned by the groupBy hash. ``ttl_ms`` bounds state under
    unbounded key churn (one-shot keys age out instead of accumulating
    forever); an evicted key that reappears is treated as brand new,
    whatever its seq."""
    return _apply(
        stream, [key_col], _make_latest_fn(ttl_ms),
        LATEST_OUTPUT_SCHEMA, LATEST_STATE_SCHEMA,
        timeout=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


EWMA_STATE_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("ewma", DoubleType()),
    ]
)

EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("value", DoubleType()),
        StructField("ewma", DoubleType()),
    ]
)


def ewma_per_key_stateful(
    stream: DataFrame, alpha: float = 0.1, key_col: str = "key"
) -> DataFrame:
    """X3/A-family streaming form: per-key recursive EWMA via
    applyInPandasWithState. Emits one row per input row with the running
    smoothed value; state is a single (seq, ewma) pair per key, so state
    size is O(live keys) regardless of stream length — the unbounded-
    history operator the batch window form cannot express incrementally
    (unlike the batch kernel, operators/analytics' q_ewma path, no
    history is held)."""

    def step(key, state, pdf):
        """e_t = (1-alpha)*e_{t-1} + alpha*x_t (adjust=False), seeded
        from state."""
        # A valueless tick (null/NaN/inf price) has no place in the
        # recursion — dropped here, exactly like the batch kernel's
        # null-skipping weighted sums, instead of poisoning the state
        # with NaN forever (the drift-monitor totality rule: streaming
        # twins must be at least as robust as their batch forms). The
        # stored seq is therefore the last FINITE row's.
        fin = pd.to_numeric(pdf["value"], errors="coerce").astype(float)
        pdf = pdf[np.isfinite(fin)]
        if pdf.empty:
            return None, None
        vals = pdf["value"].astype(float)
        last = state[1]
        if last is None:
            ewma = vals.ewm(alpha=alpha, adjust=False).mean()
        else:
            # Prepend the state value as the seed row, then drop it:
            # ewm(adjust=False) starts the recursion at its first element.
            seeded = pd.concat([pd.Series([last]), vals], ignore_index=True)
            ewma = seeded.ewm(alpha=alpha, adjust=False).mean().iloc[1:]
        out = pd.DataFrame(
            {
                "key": key[0],
                "seq": pdf["seq"].astype("int64").to_numpy(),
                "value": vals.to_numpy(),
                "ewma": ewma.to_numpy(),
            }
        )
        return out, (int(out["seq"].iloc[-1]), float(out["ewma"].iloc[-1]))

    return _apply(
        stream, [key_col], _seq_fold(step, (-1, None)),
        EWMA_OUTPUT_SCHEMA, EWMA_STATE_SCHEMA,
    )


RSI_STATE_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("last_price", DoubleType()),
        StructField("g", DoubleType()),
        StructField("l", DoubleType()),
        StructField("nd", LongType()),
    ]
)

RSI_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("value", DoubleType()),
        StructField("rsi", DoubleType()),
    ]
)


def rsi_per_key_stateful(
    stream: DataFrame, n: int = 14, key_col: str = "key"
) -> DataFrame:
    """Per-key Wilder RSI via applyInPandasWithState: the recursive
    smoothing twin of the batch Cutler RSI (q_rsi). State per key is one
    (seq, last_price, avg_gain, avg_loss, n_deltas) tuple — O(live keys)
    regardless of stream length, the incremental form the bounded-window
    batch operator cannot express."""

    def step(key, state, pdf):
        """Wilder's smoothing — the streaming-native form the batch
        Cutler RSI (operators/indicators.with_rsi) deliberately avoids:
        avg = (prev*(n-1) + cur)/n after an n-delta simple-average
        warmup. During warmup (``nd < n``) the ``g``/``l`` state fields
        hold SUMS of gains/losses; at the nth delta they become Wilder
        averages. RSI is null until n deltas exist; zero-denominator
        conventions are the batch form's: all-loss ⇒ 0, all-gain ⇒ 100,
        flat ⇒ 50."""
        _, last_price, g, l, nd = state

        def cur():
            if nd < n:
                return None
            if l == 0.0:
                return 50.0 if g == 0.0 else 100.0
            return 100.0 - 100.0 / (1.0 + g / l)

        out_rsi = []
        for x in pdf["value"].astype(float):
            prev, last_price = last_price, x
            d = x - prev if prev is not None else float("nan")
            # a non-finite delta — series head, null/NaN price on either
            # side (batch: lag over NULL yields a NULL delta that __has
            # skips) — advances nothing: the smoothed averages, the warmup
            # count, and therefore the RSI are unchanged; the row still
            # emits the current value. Totality: never count or accumulate
            # NaN (the drift-monitor rule).
            if not np.isfinite(d):
                out_rsi.append(cur())
                continue
            gain = d if d > 0 else 0.0
            loss = -d if d < 0 else 0.0
            if nd < n:
                g += gain
                l += loss
                nd += 1
                if nd == n:
                    g /= n
                    l /= n
            else:
                g = (g * (n - 1) + gain) / n
                l = (l * (n - 1) + loss) / n
            out_rsi.append(cur())
        out = pd.DataFrame(
            {
                "key": key[0],
                "seq": pdf["seq"].astype("int64").to_numpy(),
                "value": pdf["value"].astype(float).to_numpy(),
                "rsi": pd.array(out_rsi, dtype="float64"),
            }
        )
        return out, (int(out["seq"].iloc[-1]), float(last_price), float(g), float(l), int(nd))

    return _apply(
        stream, [key_col], _seq_fold(step, (-1, None, 0.0, 0.0, 0)),
        RSI_OUTPUT_SCHEMA, RSI_STATE_SCHEMA,
    )


OBV_STATE_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("price", DoubleType()),
        StructField("obv", LongType()),
    ]
)

OBV_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("price", DoubleType()),
        StructField("obv", LongType()),
    ]
)


def _obv_step(key, state, pdf):
    """obv += sign(Δprice)·vol, seeded from the (seq, price, obv) state.
    The accumulator is an INT, so streaming and batch agree bit-for-bit,
    not just to tolerance."""
    _, prev, acc = state
    out_obv = []
    # vol through float so a null survives as NaN instead of crashing
    # astype(int); NaN-vs-NaN price comparisons are False, so a
    # valueless tick moves OBV by nothing — the batch form's
    # NULL-propagating sign term — and a non-finite vol contributes 0
    # (batch: sum skips the NULL term). Totality, not silent coercion.
    for price, vol in zip(pdf["price"].astype(float), pdf["vol"].astype(float)):
        step = int(vol) if np.isfinite(vol) else 0
        if prev is not None:
            if price > prev:
                acc += step
            elif price < prev:
                acc -= step
        prev = price
        out_obv.append(acc)
    out = pd.DataFrame(
        {
            "key": key[0],
            "seq": pdf["seq"].astype("int64").to_numpy(),
            "price": pdf["price"].astype(float).to_numpy(),
            "obv": pd.array(out_obv, dtype="int64"),
        }
    )
    return out, (int(out["seq"].iloc[-1]), float(prev), int(acc))


def obv_per_key_stateful(stream: DataFrame, key_col: str = "key") -> DataFrame:
    """Streaming twin of ``operators.indicators.with_obv``: per-key
    on-balance volume via applyInPandasWithState. Input columns:
    (key, seq, price, vol). State per key is ONE (seq, price, obv)
    triple; integer accumulation makes the twin BIT-EQUAL to the batch
    operator over the same rows."""
    return _apply(
        stream, [key_col], _seq_fold(_obv_step, (-1, None, 0)),
        OBV_OUTPUT_SCHEMA, OBV_STATE_SCHEMA,
    )


VWAP_STATE_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("pv", DoubleType()),
        StructField("v", LongType()),
    ]
)

VWAP_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("session", StringType()),
        StructField("seq", LongType()),
        StructField("price", DoubleType()),
        StructField("vwap", DoubleType()),
    ]
)


def _vwap_step(key, state, pdf):
    """Running Σpv / Σv from the (seq, Σpv, Σv) state of one
    (key, session) group."""
    _, pv, v = state
    out_vwap = []
    # vol through float (null -> NaN, never an astype(int) crash); a
    # row with a non-finite price or vol contributes nothing to either
    # running sum — the batch operator's null-skipping DECIMAL sums —
    # and vwap is NULL until the first priced trade (v == 0).
    for price, vol in zip(pdf["price"].astype(float), pdf["vol"].astype(float)):
        if np.isfinite(price) and np.isfinite(vol):
            pv += price * vol
            v += int(vol)
        out_vwap.append(pv / v if v > 0 else None)
    out = pd.DataFrame(
        {
            "key": key[0],
            "session": key[1],
            "seq": pdf["seq"].astype("int64").to_numpy(),
            "price": pdf["price"].astype(float).to_numpy(),
            "vwap": out_vwap,
        }
    )
    return out, (int(pdf["seq"].iloc[-1]), float(pv), int(v))


def vwap_per_key_stateful(
    stream: DataFrame, key_col: str = "key", session_col: str = "session"
) -> DataFrame:
    """Streaming twin of ``operators.indicators.with_vwap_anchored``:
    running Σ(price·vol)/Σvol per (key, session). Input columns:
    (key, session, seq, price, vol). The session anchor IS part of the
    grouping key, so the batch operator's reset-at-open semantics fall
    out of state scoping rather than windowing; an ended session's
    state simply stops receiving rows."""
    return _apply(
        stream, [key_col, session_col], _seq_fold(_vwap_step, (-1, 0.0, 0)),
        VWAP_OUTPUT_SCHEMA, VWAP_STATE_SCHEMA,
    )


MG_STATE_SCHEMA = StructType(
    [
        StructField("last_seq", LongType()),
        StructField("n_seen", LongType()),
        StructField("items", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
    ]
)

MG_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("item", StringType()),
        StructField("lb", LongType()),
        StructField("n_seen", LongType()),
    ]
)


def heavy_hitters_stateful(
    stream: DataFrame, k: int, key_col: str = "key"
) -> DataFrame:
    """Streaming twin of ``operators.frequency.heavy_hitters``' first
    pass: an anytime Misra-Gries watchlist per key. Input columns
    (key, seq, item); state is the ≤ k counter summary plus
    (last_seq, n_seen) — O(k) however long the stream runs. Each
    trigger folds the new rows in seq order and emits the CURRENT
    summary (≤ k rows): a superset of every item whose running
    frequency exceeds n_seen/(k+1). Batch parity: folding the same rows
    in seq order through ``mg_update`` yields the identical summary
    (the state IS the sequential fold), pinned by
    tests/test_frequency.py."""
    from ..operators.frequency import mg_update

    def step(key, state, pdf):
        _, n_seen, items, counts = state
        counters = dict(zip(items, (int(c) for c in counts)))
        mg_update(counters, pdf["item"], k)
        n_seen += len(pdf)
        items, counts = list(counters.keys()), [int(c) for c in counters.values()]
        out = pd.DataFrame(
            {"key": key[0], "item": items, "lb": counts, "n_seen": int(n_seen)}
        )
        return out, (int(pdf["seq"].iloc[-1]), int(n_seen), items, counts)

    return _apply(
        stream, [key_col], _seq_fold(step, (-1, 0, [], [])),
        MG_OUTPUT_SCHEMA, MG_STATE_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Streaming SCD Type-2: the incremental form of plans.advanced.q_scd2_history.
# ---------------------------------------------------------------------------

SCD2_STATE_SCHEMA = StructType(
    [
        StructField("state_value", StringType()),
        StructField("valid_from_us", LongType()),
        StructField("version", LongType()),
        StructField("n_events", LongType()),
    ]
)

SCD2_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("version", LongType()),
        StructField("state", StringType()),
        StructField("n_events", LongType()),
        StructField("valid_from_us", LongType()),
        StructField("valid_to_us", LongType()),
    ]
)


def _scd2_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Track one open version per key; emit a row the moment a version
    CLOSES (the attribute changed), with its half-open validity
    interval. The open version lives only in state — exactly the rows
    q_scd2_history marks is_current=0, produced incrementally. Not a
    ``_seq_fold``: events order by (ts_us, event_id), not by a seq."""
    cur = list(state.get) if state.exists else None
    closed = []
    # One global in-trigger sort: the Arrow batches of a trigger arrive
    # as multiple chunks in no particular order, so sorting each chunk
    # alone would replay events out of sequence.
    chunks = [pdf for pdf in pdfs if not pdf.empty]
    if chunks:
        batch = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        for row in batch.sort_values(["ts_us", "event_id"]).itertuples():
            et = None if pd.isna(row.event_type) else str(row.event_type)
            if cur is None:
                cur = [et, int(row.ts_us), 1, 1]
            elif (cur[0] is None and et is None) or cur[0] == et:
                cur[3] += 1
            else:
                closed.append(
                    {
                        "user_id": key[0],
                        "version": cur[2],
                        "state": cur[0],
                        "n_events": cur[3],
                        "valid_from_us": cur[1],
                        "valid_to_us": int(row.ts_us),
                    }
                )
                cur = [et, int(row.ts_us), cur[2] + 1, 1]
    if cur is not None:
        state.update(tuple(cur))
    if closed:
        yield pd.DataFrame(closed)


def scd2_stateful(stream: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Streaming SCD Type-2 (X7's history-keeping dual): incremental
    version tracking with ONE open-version tuple per live key in the
    state store — O(live keys) state however long the stream runs — and
    closed versions emitted exactly once, at the trigger that observes
    the change. The batch twin (q_scd2_history) re-derives the full
    history per run; this form never re-reads history at all, which is
    the difference between a nightly rebuild and a dimension table that
    is current within a trigger interval at 100 TB event volume.

    Expects columns (user_id, ts_us, event_id, event_type); rows must
    arrive in per-key order across triggers for version numbers to
    match the batch derivation (inside a trigger they are sorted)."""
    return _apply(
        stream, [key_col], _scd2_fn, SCD2_OUTPUT_SCHEMA, SCD2_STATE_SCHEMA,
        mode="append",
    )


# (P, min P) ride as 1e-10-scaled integers — the SAME grid the batch
# operator's DECIMAL(28,10) cast quantizes to — so the prefix sums are
# exact integer arithmetic and streaming/batch agree bit-for-bit, not
# just to float tolerance. Long headroom: |P| up to ~9·10^8 in value
# units before 2^63 nears (a control chart alarms ~h = 4σ long before).
CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("last_seq", LongType()),
        StructField("p_up", LongType()),
        StructField("min_up", LongType()),
        StructField("p_dn", LongType()),
        StructField("min_dn", LongType()),
        # finite deviations accumulated so far: 0 distinguishes "no
        # evidence yet" (batch: NULL prefix sums -> NULL cusum) from a
        # genuine P == 0 state
        StructField("n_acc", LongType()),
    ]
)

CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("value", DoubleType()),
        StructField("cusum_up", DoubleType()),
        StructField("cusum_dn", DoubleType()),
        StructField("alarm_up", LongType()),
        StructField("alarm_dn", LongType()),
    ]
)


def cusum_per_key_stateful(
    stream: DataFrame,
    targets: dict[str, tuple[float, float]],
    k_sigma: float = 0.5,
    h_sigma: float = 4.0,
    key_col: str = "key",
) -> DataFrame:
    """Streaming twin of ``operators.changepoint.with_cusum`` with the
    calibration FROZEN (``targets`` maps key → (μ, σ) from the batch
    pass — the control-chart deployment shape: calibrate offline,
    monitor online). State per key is the closed form's two scalars per
    side, (P, min P) — O(1) per key whatever the stream length; the
    recursion S_t = max(0, S_{t-1} + y_t) is never replayed. Keys
    absent from ``targets`` pass through with null scores (an uncharted
    series can't alarm — surface it via the drift monitor instead).

    Exactness: each deviation is snapped to the 1e-10 grid with the
    SAME floor(y·1e10 + 0.5) double expression the batch operator (and
    its oracle) evaluate before their DECIMAL(28,10) casts — Python
    floats are IEEE doubles, so the three sides compute the identical
    grid index. (The earlier construction replicated Spark's
    shortest-string cast via ``Decimal(repr(y))``; the snap-then-cast
    form supersedes it because a bare double→DECIMAL cast can resolve
    to DIFFERENT grid points on Spark vs DuckDB.) With that, (P, min P)
    accumulate as scaled integers and this twin reproduces
    ``operators.changepoint.with_cusum`` bit-for-bit, pinned by
    tests/test_cusum.py's exact-parity assertion."""

    def dec10(y: float) -> int:
        return int(math.floor(y * 1e10 + 0.5))

    def step(key, state, pdf):
        _, p_up, min_up, p_dn, min_dn, n_acc = state
        tgt = targets.get(key[0])
        rows = []
        for seq, value in zip(pdf["seq"], pdf["value"]):
            if tgt is None:
                rows.append((key[0], int(seq), float(value),
                             None, None, None, None))
                continue
            mu, sigma = tgt
            k = k_sigma * sigma
            h = h_sigma * sigma
            v = float(value)
            if v != v or v in (float("inf"), float("-inf")):
                # a valueless/non-finite tick accumulates NOTHING —
                # the batch twin's NULL deviation is skipped by its
                # window sums — and the row carries the current score
                # forward (NULL while no evidence exists yet, exactly
                # like the batch's NULL prefix). Totality: dec10(NaN)
                # would raise InvalidOperation and kill the stream.
                if n_acc == 0:
                    rows.append((key[0], int(seq), None,
                                 None, None, None, None))
                else:
                    cu = ((p_up - min(0, min_up)) + 5) // 10 / 1e9
                    cd = ((p_dn - min(0, min_dn)) + 5) // 10 / 1e9
                    rows.append((key[0], int(seq), None, cu, cd,
                                 int(cu > h), int(cd > h)))
                continue
            p_up += dec10(v - mu - k)
            p_dn += dec10(mu - k - v)
            n_acc += 1
            min_up = min(min_up, p_up)
            min_dn = min(min_dn, p_dn)
            # Batch mirror, step 2: Spark types the final subtraction
            # P − least(0, min P) as decimal(38,9) — the precision-loss
            # rule trims one digit from dec(38,10)−dec(38,10) — so the
            # exact int diff (always ≥ 0) gets one more HALF_UP round
            # to the 1e-9 grid before the double cast; int/1e9 and
            # DECIMAL(38,9)→double round the same rational identically.
            cu = ((p_up - min(0, min_up)) + 5) // 10 / 1e9
            cd = ((p_dn - min(0, min_dn)) + 5) // 10 / 1e9
            rows.append((key[0], int(seq), float(value), cu, cd,
                         int(cu > h), int(cd > h)))
        out = pd.DataFrame(
            rows,
            columns=["key", "seq", "value", "cusum_up", "cusum_dn",
                     "alarm_up", "alarm_dn"],
        )
        return out, (int(pdf["seq"].iloc[-1]), p_up, min_up, p_dn, min_dn, n_acc)

    return _apply(
        stream, [key_col], _seq_fold(step, (-1, 0, 0, 0, 0, 0)),
        CUSUM_OUTPUT_SCHEMA, CUSUM_STATE_SCHEMA,
    )
