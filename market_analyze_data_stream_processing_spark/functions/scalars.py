"""Scalar expression builders — the reference's inline formula idioms as
reusable Catalyst Column expressions (SURVEY.md §2.8).

Everything here is a pure Column-in / Column-out builder: JVM-side,
whole-stage-codegen friendly, no Python UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

#: opt-in numeric-domain assertion mode (off by default). When set to a
#: non-empty value other than "0", every floor-form snap (stable_round /
#: operators.stats.quantize) wraps its input in a per-row guard that
#: RAISES on out-of-domain values — |x|·10^digits ≥ 2^53, NaN, ±inf —
#: instead of silently diverging cross-engine (Spark's LONG-typed floor
#: saturates at 2^63 and maps NaN→0 / +inf→Long.MaxValue where DuckDB
#: keeps doubles). The gram_partials loud-refusal policy
#: (operators/linalg.py), applied to the scalar snap path. Zero plan
#: change when unset: the flag is read at builder-call time.
NUMERIC_ASSERT_ENV = "SPARK_GRAFT_NUMERIC_ASSERT"

#: 2^53 — largest double magnitude whose grid integer is exactly
#: representable (see the stable_round / quantize DOMAIN BOUND docs)
_SNAP_DOMAIN_BOUND = 9007199254740992.0


def money2(col: Column | str) -> Column:
    """Exact cent-grid reading of a money DOUBLE column.

    Every money column in the corpus (l_extendedprice, o_totalprice,
    ps_supplycost — and TPC-H semantics generally) is a 2-decimal value
    stored as the nearest double; casting to DECIMAL(12,2) recovers the
    exact cents. Money SUMS must accumulate in DECIMAL, not DOUBLE:
    summing millions of cent-grid doubles drifts ~n·ulp(sum) — ~6e-3 at
    6M rows / 1e11 magnitude, which CROSSES half-cent round boundaries,
    so Spark's and DuckDB's different accumulation orders round to
    different cents (the round-11 sf1 differential reds: q_cube_status,
    q_grouping_sets, q_salted_brand_revenue, q09_product_profit).
    DECIMAL accumulation is exact, order-independent, and identical on
    both engines at ANY scale — the only correct money sum at 100 TB.

    Widths are deliberately TIGHT (12,2 ≈ |x| < 1e10 per row) so that
    product chains (× rate × rate) stay inside both engines' 38-digit
    cap with exact scales. SQL mirror: CAST(x AS DECIMAL(12,2)).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(12,2)")


def qty1(col: Column | str) -> Column:
    """Exact reading of a small-integer-grid quantity DOUBLE column
    (l_quantity ≤ 50.0). SQL mirror: CAST(x AS DECIMAL(4,1))."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(4,1)")


def one_minus_rate(col: Column | str) -> Column:
    """(1 - rate) as an exact DECIMAL(5,2): rates (l_discount, l_tax)
    are 2-decimal fractions < 10. The literal 1 is typed DECIMAL(3,2)
    on purpose — a bare int literal widens through INT's 10 digits and
    pushes triple products past the 38-digit cap on Spark. SQL mirror:
    (CAST(1 AS DECIMAL(3,2)) - CAST(x AS DECIMAL(4,2)))."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lit("1").cast("decimal(3,2)") - c.cast("decimal(4,2)")


def one_plus_rate(col: Column | str) -> Column:
    """(1 + rate) as an exact DECIMAL(5,2) — see one_minus_rate."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lit("1").cast("decimal(3,2)") + c.cast("decimal(4,2)")


def money_round(sum_col: Column, digits: int = 2) -> Column:
    """round-then-cast for an exact DECIMAL money sum: decimal round is
    half-away-from-zero with matching result scales on BOTH engines
    (probed), and the scale-`digits` result casts to DOUBLE exactly
    while |v|·10^digits < 2^53. SQL mirror:
    CAST(round(sum(...), d) AS DOUBLE)."""
    return F.round(sum_col, digits).cast("double")


def numeric_assert_enabled() -> bool:
    return os.environ.get(NUMERIC_ASSERT_ENV, "") not in ("", "0")


def domain_checked(
    col: Column,
    digits: int,
    result: Column,
    where: str,
    bound: float = _SNAP_DOMAIN_BOUND,
) -> Column:
    """Wrap ``result`` (a snap of ``col`` at ``digits``) in a per-row
    domain assertion when NUMERIC_ASSERT_ENV is set; identity otherwise.

    The guard accepts NULL (snaps pass NULL through) and any finite x
    with |x|·10^digits < ``bound`` (2^53 by default — the general snap
    contract; grid_long passes its tighter 2^51 exact-recovery bound);
    NaN and ±inf fail the strict inequality (NaN compares false,
    inf·10^d = inf), so one predicate covers the whole out-of-contract
    surface. In-domain rows return ``result`` unchanged — assert_true
    yields NULL on pass, so the when-branch is value-transparent and
    output hashes are identical with the flag on."""
    if not numeric_assert_enabled():
        return result
    p = float(10**digits)
    ok = col.isNull() | (F.abs(col) * F.lit(p) < F.lit(bound))
    msg = F.concat(
        F.lit(
            f"{where} domain violation (digits={digits}; contract: "
            f"|x|*10^digits < {bound:.0f} and x finite — see the DOMAIN "
            "BOUND docstring): x="
        ),
        col.cast("string"),
    )
    return F.when(F.assert_true(ok, msg).isNull(), result)


def stable_round(col: Column, digits: int) -> Column:
    """Engine-portable rounding: ``floor(x*10^d + 0.5)/10^d``.

    ``round()`` half-way semantics differ across engines (Spark rounds the
    double's shortest decimal representation HALF_UP; DuckDB rounds the
    binary expansion), so values landing exactly on a .5 boundary — which
    decimal-exact quotients do systematically — flip between engines.
    This form is a pure double computation: identical inputs → identical
    outputs on any IEEE-754 engine. Use it whenever the pre-rounding
    value is bit-identical across engines.

    HALF-CASE SEMANTICS: the floor form rounds halves toward +infinity
    (HALF_UP for non-negative values ONLY). A NEGATIVE half rounds up
    toward zero: -0.125 at 2 digits gives -0.12, where Java/Spark
    HALF_UP would give -0.13. Cross-engine determinism is unaffected
    (both engines compute the identical floor form), but callers
    comparing against an external HALF_UP implementation should expect
    the divergence on negative half-boundaries.

    DOMAIN BOUND (same as operators/stats.quantize): keep
    ``|x|·10^digits < 2^53`` and inputs finite. Spark's
    ``floor(double)`` is LONG-typed — it saturates at 2^63 while
    DuckDB's floor stays a double, and Spark maps NaN→0 / +inf→
    Long.MaxValue where DuckDB keeps NaN/inf — so out-of-domain or
    non-finite inputs silently diverge cross-engine. Presentation
    rounds at 2–9 digits over O(1..1e6)-magnitude values sit far
    inside the bound; gate NaN/±inf to NULL first where they can
    occur. Set SPARK_GRAFT_NUMERIC_ASSERT=1 to turn the bound into a
    per-row assertion (``domain_checked``) during testing.
    """
    p = float(10**digits)
    return domain_checked(
        col, digits, F.floor(col * p + F.lit(0.5)) / F.lit(p), "stable_round"
    )


#: DuckDB SQL mirror of stable_round.
def stable_round_sql(expr: str, digits: int) -> str:
    p = 10**digits
    return f"floor(({expr}) * {p} + 0.5) / {p}"


def grid_long(col: Column | str, digits: int = 2) -> Column:
    """Exact LONG reading of a ``digits``-decimal grid DOUBLE column in
    10^-digits units (cents for digits=2): ``floor(x·10^d + 0.5)``.

    Same exactness class as :func:`money2`'s DECIMAL cast — for a grid
    value k·10^-d stored as its nearest double, the floor form recovers
    the integer k exactly for ``|k| < 2^51`` (the product x·10^d lands
    within ±0.006 of k at the 1e12 contract bound, so +0.5-then-floor
    snaps to k for either error sign; identical IEEE ops on both
    engines). NULL passes through (floor(NULL)=NULL), matching the
    decimal cast. Requires grid input like money2 — this is a reading
    of the stored value, not a rounding of arbitrary doubles.
    """
    c = F.col(col) if isinstance(col, str) else col
    p = float(10**digits)
    # ASSERT-mode discipline as stable_round/quantize, but at the
    # EXACT-RECOVERY bound this function documents: with
    # SPARK_GRAFT_NUMERIC_ASSERT set, per-row values with
    # |x|·10^d ≥ 2^51 (or NaN, ±inf) RAISE. 2^51 — not the generic
    # 2^53 snap bound — because the floor form recovers the grid
    # integer k exactly only for |k| < 2^51, and grid_sum_parts'
    # split-division domain (|u| < 2^52) builds on it; a guard at
    # 2^53 would admit rows in [2^51, 2^53) that can snap or split
    # inexactly while claiming the contract holds (round-12
    # advisory). Still ≥3 orders above any money column's 1e12-cent
    # ceiling.
    return domain_checked(
        c, digits, F.floor(c * F.lit(p) + F.lit(0.5)), "grid_long",
        bound=float(2**51),
    )


def grid_sum_parts(u: Column, name: str, scale: int) -> list[Column]:
    """Exact order-independent SUM of a LONG integer-grid expression
    ``u`` (a value in 10^-scale units, e.g. the per-row product
    ``grid_long(price) * (100 - grid_long(discount))`` at scale 4), as
    TWO LONG aggregates to be recombined by :func:`grid_sum_value`.

    WHY: Spark's Sum over DECIMAL(p>8,s) carries a >18-digit buffer
    that falls off the compact-long Decimal representation, so every
    row round-trips through java.math.BigDecimal (~2x the agg cost of
    the whole query at sf0.1 — the round-11→12 bench attribution).
    Summing the grid integer directly in LONG is the same exact,
    accumulation-order-independent arithmetic at native speed — but a
    single LONG sum of scale-4 money units would approach 2^63 around
    1e10 rows/group at TPC-H magnitudes (Spark long sums wrap silently
    in non-ANSI mode). Splitting each row at the whole-unit boundary
    (``hi`` = whole units via floor-div, ``lo`` = sub-unit remainder in
    [0, 10^scale), pmod pairs with floor-div for negatives) keeps both
    partial sums ≥10^4x inside LONG for any realistic group: |sum_lo|
    < N·10^scale and |sum_hi| < N·max_units — at TPC-H row magnitudes
    (≤ ~1.1e5 whole units) that is ~8e13 rows PER GROUP before
    overflow, ~130x the total 100 TB lineitem row count.

    DOMAIN: |u| < 2^52 per row (the split divides in double — exact
    while u, hi·10^scale are < 2^53). The triple-product money chain
    cents×(100-d)×(100+t) stays inside it for per-row money < ~3.7e8,
    vs the 1.1e5 TPC-H ceiling. The DuckDB oracle keeps the exact
    DECIMAL-sum form — both sides are exact integer arithmetic, so the
    recombined values are identical by construction, pinned by the
    registry differential.
    """
    split = F.lit(10**scale)
    if numeric_assert_enabled():
        # ASSERT mode enforces the split-division domain this docstring
        # states (round-12 advisory): |u| < 2^52 keeps u and hi·10^scale
        # inside double-exact range for the (u - lo)/split division.
        ok = u.isNull() | (F.abs(u) < F.lit(2**52))
        u = F.when(
            F.assert_true(
                ok,
                F.concat(
                    F.lit(
                        f"grid_sum_parts({name}) domain violation "
                        "(contract: |u| < 2^52 per row): u="
                    ),
                    u.cast("string"),
                ),
            ).isNull(),
            u,
        )
    lo = F.pmod(u, split)
    hi = ((u - lo) / split).cast("long")
    return [
        F.sum(hi).alias(f"__{name}_hi"),
        F.sum(lo).alias(f"__{name}_lo"),
    ]


def grid_sum_value(name: str, scale: int) -> Column:
    """Recombine :func:`grid_sum_parts` aggregates into the exact
    DECIMAL sum (scale ``scale``): ``sum_hi + sum_lo·10^-scale`` in
    exact decimal arithmetic — runs on FINAL group rows only, so the
    BigDecimal cost the split avoided per-row is paid once per group.
    Feed the result to :func:`money_round` (presentation) or
    :func:`decimal_to_double_split` (full-precision double) exactly as
    the DECIMAL-sum form it replaces."""
    unit = "0." + "0" * (scale - 1) + "1"
    dec_hi = F.col(f"__{name}_hi").cast("decimal(20,0)")
    dec_lo = F.col(f"__{name}_lo").cast("decimal(20,0)") * F.lit(unit).cast(
        f"decimal({scale},{scale})"
    )
    return dec_hi + dec_lo


def decimal_to_double_split(col: Column) -> Column:
    """Engine-portable DECIMAL→DOUBLE cast for WIDE decimals.

    DuckDB's wide-decimal→double cast DOUBLE-ROUNDS: it converts the
    backing int128 to a double (one rounding) and then divides by
    10^scale (a second rounding), so it can be 1 ULP off the correctly
    rounded value once ``|value|·10^scale > 2^53`` — while Spark's
    BigDecimal cast is correctly rounded (probed: DECIMAL(38,12)
    -210142323400 → -210142323400.00003 on DuckDB vs exact on Spark,
    the round-10 ×1000 magnitude-stress q_roll_spread red).

    The portable form splits the value with EXACT decimal arithmetic:
    integral part (``v - v % 1``, rescaled to scale 0 — exact on both
    engines because it is integral; Spark HALF_UP vs DuckDB truncation
    never disagree on integral values) and sub-1 fraction, casts each
    exactly (|int| < 2^53 and |frac|·10^scale < 2^53 by construction
    for scale ≤ 12), and adds once — identical IEEE ops on identical
    operands on both engines. Mirror: ``decimal_to_double_split_sql``.

    Preconditions: decimal scale ≤ 12 and |value| < 2^53 (≈9.0e15);
    ``%`` has dividend-sign semantics on both engines."""
    t = (col - (col % 1)).cast("decimal(19,0)")
    return t.cast("double") + (col % 1).cast("double")


def decimal_to_double_split_sql(expr: str) -> str:
    """DuckDB mirror of decimal_to_double_split."""
    return (
        f"(CAST(CAST(({expr}) - (({expr}) % 1) AS DECIMAL(19,0)) AS DOUBLE)"
        f" + CAST(({expr}) % 1 AS DOUBLE))"
    )


def pct_change(cur: Column, prev: Column) -> Column:
    """``(cur - prev) / prev * 100`` with the reference's zero/NULL guard
    (0.0 when prev is 0 or missing).

    Ref parity: producer.py:169-171, producer.py:231-233, main.py:241-244
    (reference repeats this formula inline 4×; here it is one builder).
    """
    return (
        F.when(prev.isNull() | (prev == 0), F.lit(0.0))
        .otherwise((cur - prev) / prev * 100.0)
    )


def time_decay(ts: Column, now: Column, tau_seconds: float = 14400.0) -> Column:
    """Exponential freshness decay ``exp(-age/tau)``.

    Ref parity: rag_engine.py:159-162 (tau = 14400 s = 4 h).
    """
    return F.exp(-(now - ts) / F.lit(tau_seconds))


def composite_relevance(
    sim: Column,
    decay: Column,
    intent: Column,
    w_sim: float = 0.6,
    w_decay: float = 0.4,
) -> Column:
    """Re-rank score: ``0.6*sim + 0.4*decay``; HISTORICAL intent → sim only.

    Ref parity: rag_engine.py:147-163.
    """
    blended = F.lit(w_sim) * sim + F.lit(w_decay) * decay
    return F.when(intent == "HISTORICAL", sim).otherwise(blended)


def humanize_number(v: Column) -> Column:
    """1_234_567 → ``1.2M`` (K/M/B ladder).

    Ref parity: main.py:21-33.
    """
    return (
        F.when(v >= 1e9, F.concat(F.format_number(v / 1e9, 1), F.lit("B")))
        .when(v >= 1e6, F.concat(F.format_number(v / 1e6, 1), F.lit("M")))
        .when(v >= 1e3, F.concat(F.format_number(v / 1e3, 1), F.lit("K")))
        .otherwise(F.format_number(v, 2))
    )


def relative_time(ts_epoch: Column, now_epoch: Column) -> Column:
    """Epoch-seconds age → ``"5m ago"`` / ``"2h ago"`` / ``"3d ago"``.

    Ref parity: main.py:36-50.
    """
    age = now_epoch - ts_epoch
    return (
        F.when(age < 60, F.lit("just now"))
        .when(age < 3600, F.concat(F.floor(age / 60).cast("string"), F.lit("m ago")))
        .when(age < 86400, F.concat(F.floor(age / 3600).cast("string"), F.lit("h ago")))
        .otherwise(F.concat(F.floor(age / 86400).cast("string"), F.lit("d ago")))
    )


def parse_date_flexible(date_str: Column) -> Column:
    """Multi-format date-string → epoch seconds (F6, rag_engine.py:40-57):
    try 4 formats in order, NULL when none matches (the engine's
    null-propagating form of the reference's raised ValueError)."""
    parsed = F.coalesce(
        F.try_to_timestamp(date_str, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(date_str, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.try_to_timestamp(date_str, F.lit("yyyy-MM-dd HH:mm")),
        F.try_to_timestamp(date_str, F.lit("yyyy-MM-dd")),
    )
    return F.unix_timestamp(parsed)


def url_encode(col: Column) -> Column:
    """F11 (producer.py:85): percent-encode a query string for URL use."""
    return F.url_encode(col)


def format_fixed2(v: Column) -> Column:
    """F5 (main.py:53-60): fixed 2-decimal render with NaN/NULL guard →
    'N/A' (the reference's val != val check)."""
    return F.when(
        v.isNull() | F.isnan(v), F.lit("N/A")
    ).otherwise(F.format_string("%.2f", v))
