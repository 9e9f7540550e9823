"""Range-based volatility estimators and return autocorrelation — the
per-key risk statistics a market dashboard derives from daily OHLC bars
(extends the reference's per-ticker variation analytics, main.py's
daily-summary family, from first moments to second-moment risk).

Scale shape: both operators are ONE hash aggregate over the daily-bar
frame (itself one aggregate over ticks) — per-row terms are computed
map-side, partials combine, and the output is one row per key. No
window pass, no per-key serialization: a billion-bar ticker costs the
same shuffle as a small one, and the aggregation tree is exactly what
Catalyst's partial/final HashAggregate already does.

Numerical design: the per-row terms (log range ratios, squared log
returns) are fixed-order double expressions both engines evaluate
identically; only the final mean is a float accumulation, so outputs
round at coarse precision (the registry's float discipline for
non-decimal sums).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_LN2 = 0.6931471805599453


def ohlc_volatility(
    daily: DataFrame,
    key: str = "ticker",
    open_: str = "open",
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Per-key Parkinson, Garman-Klass, and Rogers-Satchell volatility
    from daily OHLC bars (per-bar, unannualized):

    - Parkinson:       sqrt( mean(ln(H/L)^2) / (4 ln 2) )
    - Garman-Klass:    sqrt( mean( 0.5 ln(H/L)^2 - (2 ln 2 - 1) ln(C/O)^2 ) )
    - Rogers-Satchell: sqrt( mean( ln(H/C) ln(H/O) + ln(L/C) ln(L/O) ) )

    GK's mean can go (slightly) negative on drift-dominated series, so
    it is clamped at 0 before the sqrt; RS is non-negative per-term for
    true OHLC bars (H >= O,C >= L) but clamped too for safety.
    """
    lhl = F.log(F.col(high) / F.col(low))
    lco = F.log(F.col(close) / F.col(open_))
    lhc = F.log(F.col(high) / F.col(close))
    lho = F.log(F.col(high) / F.col(open_))
    llc = F.log(F.col(low) / F.col(close))
    llo = F.log(F.col(low) / F.col(open_))
    park_t = lhl * lhl
    gk_t = F.lit(0.5) * lhl * lhl - F.lit(2.0 * _LN2 - 1.0) * lco * lco
    rs_t = lhc * lho + llc * llo
    return (
        daily.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.avg(park_t).alias("__park"),
            F.avg(gk_t).alias("__gk"),
            F.avg(rs_t).alias("__rs"),
        )
        .select(
            key,
            "n_days",
            F.sqrt(F.col("__park") / F.lit(4.0 * _LN2)).alias("park_vol"),
            F.sqrt(F.greatest(F.col("__gk"), F.lit(0.0))).alias("gk_vol"),
            F.sqrt(F.greatest(F.col("__rs"), F.lit(0.0))).alias("rs_vol"),
        )
    )


def return_autocorr(
    daily: DataFrame,
    lags: Sequence[int] = (1, 2, 5),
    key: str = "ticker",
    day: str = "day",
    close: str = "close",
) -> DataFrame:
    """Autocorrelation of daily log returns at the given lags, one row
    per key with an ``acf_<k>`` column per lag.

    Returns r_t = ln(C_t / C_{t-1}) come from one (key, day) window
    pass, gated on both closes being positive (a zero close leaves the
    return undefined: NULL, never an ANSI DIVIDE_BY_ZERO / ln(0)
    crash) and quantized to the 1e-12 DECIMAL grid. Each ACF is the
    sample Pearson of (r_t, r_{t-k}) lowered through the exact-moment
    kernel (operators/stats.py) — NOT the built-in ``corr``, which
    crashes under ANSI on a zero-variance series — so all lags still
    fold into ONE hash aggregate after the single window shuffle, the
    moments are order-independent, and a flat series yields NULL ACFs
    on every engine. Pairs where either side is null (series head,
    zero-close gaps) drop out of that lag's correlation only.
    """
    from .. import cache
    from ..functions.scalars import numeric_assert_enabled
    from .stats import corr_from_moments_named, corr_moment_aggs_named, quantize

    # Expression-set memo (``cache`` kind ``kernel``): every tree below
    # is a pure function of (lags, key, day, close) column NAMES, so it
    # is built once per process per argument tuple; only the four
    # DataFrame calls (withColumn/withColumns/agg/select) run per build.
    def build():
        base = Window.partitionBy(key).orderBy(day)
        prev = F.lag(close).over(base)
        r = F.when(
            (F.col(close) > 0) & (prev > 0),
            quantize(F.log(F.col(close) / prev)),
        )
        lag_cols = {f"__r_{k}": F.lag("__r", k).over(base) for k in lags}
        agg_cols = [
            F.count("__r").alias("n_returns"),
            *[
                c
                for k in lags
                for c in corr_moment_aggs_named("__r", f"__r_{k}", f"l{k}")
            ],
        ]
        out_cols = [
            corr_from_moments_named(f"l{k}").alias(f"acf_{k}") for k in lags
        ]
        return r, lag_cols, agg_cols, out_cols

    mkey = ("return_autocorr", tuple(lags), key, day, close, numeric_assert_enabled())
    r, lag_cols, agg_cols, out_cols = cache.get("kernel", mkey, build)
    with_r = daily.withColumn("__r", r)
    # the moments are aggregates, not window fns: materialize the
    # lagged columns first, then aggregate — one window pass + one agg.
    lagged = with_r.withColumns(lag_cols)
    m = lagged.groupBy(key).agg(*agg_cols)
    return m.select(key, "n_returns", *out_cols)


ANNUALIZE_DAILY = 15.874507866387544  # sqrt(252), shared literal


def sharpe_ratio(
    daily: DataFrame,
    key: str = "ticker",
    day: str = "day",
    close: str = "close",
    ann: float = ANNUALIZE_DAILY,
) -> DataFrame:
    """Per-key annualized Sharpe (rf = 0) over daily log returns:
    (n_returns, mean_r, std_r, sharpe_ann), unrounded. Zero closes
    null the return, and a zero return stddev (flat series / single
    return) nulls the ratio — ANSI totality on both edges; DuckDB's
    NULL-on-/0 yields the identical NULL without a gate. One window
    pass + one aggregate."""
    base = Window.partitionBy(key).orderBy(day)
    prev = F.lag(close).over(base)
    r = F.when((F.col(close) > 0) & (prev > 0), F.log(F.col(close) / prev))
    mean_c, std_c = F.avg("__r"), F.stddev_samp("__r")
    return (
        daily.withColumn("__r", r)
        .groupBy(key)
        .agg(
            F.count("__r").alias("n_returns"),
            mean_c.alias("mean_r"),
            std_c.alias("std_r"),
            F.when(std_c != 0, mean_c / std_c * F.lit(ann)).alias("sharpe_ann"),
        )
    )


def amihud_illiquidity(
    daily: DataFrame,
    key: str = "ticker",
    day: str = "day",
    close: str = "close",
    dollar_vol: str = "dollar_vol",
) -> DataFrame:
    """Per-key Amihud illiquidity over (close, dollar_vol) daily bars:
    mean(|return| / dollar volume) x 1e6, unrounded, zero-dollar-volume
    days excluded and zero-close returns nulled."""
    base = Window.partitionBy(key).orderBy(day)
    prev = F.lag(close).over(base)
    abs_r = F.when(prev > 0, F.abs(F.col(close) / prev - 1.0))
    return (
        daily.withColumn("__abs_r", abs_r)
        .where(F.col(dollar_vol) > 0)
        .groupBy(key)
        .agg(
            F.count("__abs_r").alias("n_days"),
            F.avg(F.col("__abs_r") / F.col(dollar_vol) * F.lit(1000000.0)).alias(
                "amihud_x1e6"
            ),
        )
    )


def max_drawdown(
    bars: DataFrame,
    key: str = "ticker",
    ts: str = "ts",
    price: str = "price",
    seq: str = "seq",
) -> DataFrame:
    """Per-key maximum drawdown over tick bars: min of price/peak - 1
    (running-peak window; zero peaks null-gate), unrounded."""
    w = (
        Window.partitionBy(key)
        .orderBy(ts, seq)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = F.max(price).over(w)
    dd = F.when(peak != 0.0, F.col(price) / peak - 1.0)
    return (
        bars.withColumn("__dd", dd)
        .groupBy(key)
        .agg(F.min("__dd").alias("max_drawdown"))
    )


def historical_var_cvar(
    daily: DataFrame,
    alpha: float = 0.05,
    key: str = "ticker",
    day: str = "day",
    close: str = "close",
) -> DataFrame:
    """Per-key historical Value-at-Risk and Conditional VaR (expected
    shortfall) over daily simple returns — the loss-tail statistics a
    risk desk quotes next to Sharpe/drawdown (extends the reference's
    per-ticker variation analytics to the distribution's tail).

    Order-statistic semantics, not interpolated percentile: with
    n returns, the tail is the k = ceil(alpha * n) smallest, VaR is the
    k-th smallest return (an actual data value — no float blending of
    neighbors, hence bit-portable across engines), and CVaR is the mean
    of those k (the only float accumulation; callers round it). Ties on
    the return value break by day, so the tail set is deterministic.

    Scale shape: the return lag and the (return, day) ranking share one
    hash partitioning on the key — one shuffle, two in-partition sorts,
    one final hash aggregate. No per-key collect, no global sort: a
    billion-day key costs one partition-local sort, and the output is
    one row per key.
    """
    base = Window.partitionBy(key).orderBy(day)
    prev = F.lag(close).over(base)
    r = F.when(prev > 0, F.col(close) / prev - 1.0)
    rets = (
        daily.withColumn("__r", r)
        .where(F.col("__r").isNotNull())
        .select(key, day, "__r")
    )
    rank_w = Window.partitionBy(key).orderBy("__r", day)
    part_w = Window.partitionBy(key)
    ranked = rets.select(
        key,
        "__r",
        F.row_number().over(rank_w).alias("__rk"),
        F.count(F.lit(1)).over(part_w).alias("__n"),
    )
    k = F.ceil(F.col("__n") * F.lit(alpha))
    return (
        ranked.withColumn("__k", k)
        .groupBy(key)
        .agg(
            F.max("__n").alias("n_returns"),
            F.max("__k").alias("tail_k"),
            F.max(F.when(F.col("__rk") == F.col("__k"), F.col("__r"))).alias(
                "var_loss"
            ),
            F.avg(F.when(F.col("__rk") <= F.col("__k"), F.col("__r"))).alias(
                "cvar_loss"
            ),
        )
    )
