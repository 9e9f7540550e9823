"""Total, engine-portable Pearson correlation lowering.

Spark's ``corr()`` aggregate divides by ``sqrt(M2x · M2y)`` with NO
zero gate — under ANSI mode (the Spark 4 default, and the driver's
vanilla-session reality) a zero-variance group is a DIVIDE_BY_ZERO
crash, and DuckDB's ``corr()`` returns NULL on the same input, so the
built-in is banned from oracle-checked plans (found by the round-9
adversarial-data differential: a flat-price ticker crashed q_autocorr,
q_ljung_box, q_lead_lag, q_risk_report, and q_stats_agg).

This kernel lowers Pearson to moment sums over a FIXED quantization
grid plus one fixed-order double expression, gated total:

- inputs are snapped to a DECIMAL grid through ``quantize`` —
  stable_round in pure double arithmetic FIRST, then the cast (a bare
  double→DECIMAL cast is knife-edge-prone: Spark rounds the double's
  shortest round-trip string, DuckDB its exact binary expansion) — so
  every cross-row sum is exact integer arithmetic: order-independent
  (the STABILITY.md discipline) and bit-identical across engines;
- cross products are one IEEE multiply of the two quantized doubles
  (bit-identical on both engines) re-quantized to the product grid;
- the final correlation is emitted ONLY when n ≥ 2 and both variance
  terms are strictly positive — zero variance, single pairs, and empty
  groups yield NULL on every engine instead of a crash / NaN / ±inf.

Both the Spark aggregate columns and the mirroring oracle-SQL snippets
are generated here so the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import cache
from ..functions.scalars import domain_checked, numeric_assert_enabled

#: default input grid: 1e-12 quantization. DOMAIN BOUND: cross-engine
#: exact only for |x| < 2^53/10^12 ≈ 9006 (see quantize); sized for
#: log returns and other O(1) inputs, NOT raw ids/volumes — pick a
#: coarser ``digits`` for large-magnitude inputs.
GRID = "decimal(28,12)"
#: default product grid for products of two GRID values; same
#: |x·y| < 2^53/10^12 bound applies to the PRODUCT. (38,12) leaves
#: 1e26 headroom for the cross-partition sum, which is exact decimal
#: arithmetic and has no double bound.
PROD_GRID = "decimal(38,12)"


def quantize(x: Column, digits: int = 12, grid: str = GRID) -> Column:
    """stable_round-then-cast: ``floor(x·10^d + 0.5) / 10^d`` in pure
    double arithmetic (bit-identical cross-engine) BEFORE the DECIMAL
    cast. A plain ``CAST(double AS DECIMAL)`` is knife-edge-prone:
    Spark rounds the double's shortest round-trip STRING while DuckDB
    rounds its exact BINARY expansion, and the two can land on
    different grid points when the true value sits between the string
    and a grid boundary. Pre-snapping the double to (near) the grid
    makes both casts resolve to the same point. Mirror:
    ``quantize_sql``.

    DOMAIN BOUND — callers must keep ``|x| · 10^digits < 2^53`` (≈
    9.0e15): within it the snapped grid integer is an exact double and
    its /10^d quotient round-trips through Spark's shortest-string
    decimal cast and DuckDB's binary-expansion cast to the SAME grid
    point. Past 2^53 the grid integer itself is no longer exactly
    representable (snap becomes lossy and the two casts can part);
    past 2^63 Spark's ``floor(double)`` — which is LONG-typed —
    silently SATURATES at Long.MaxValue while DuckDB's floor stays a
    double, a hard divergence (verified: floor(4000²·1e12 + 0.5)
    → 9.2e6 grid value on Spark vs 1.6e7 on DuckDB). At the default
    digits=12 that means |x| < ~9006: fine for log returns, wrong for
    raw ids/volumes — pass a coarser ``digits`` (see q_stats_agg's
    digits=6 product grid) for large-magnitude inputs. NaN/±inf inputs
    are also out of contract (Spark floor(NaN)=0, floor(inf)=
    Long.MaxValue vs DuckDB NaN/inf) — gate them to NULL first.
    Set SPARK_GRAFT_NUMERIC_ASSERT=1 to turn this bound into a per-row
    assertion (functions/scalars.domain_checked) during testing."""
    p = float(10**digits)
    snapped = (F.floor(x * p + F.lit(0.5)) / F.lit(p)).cast(grid)
    return domain_checked(x, digits, snapped, "quantize")


def quantize_sql(expr: str, digits: int = 12, grid: str = "DECIMAL(28,12)") -> str:
    """Oracle mirror of ``quantize`` (same double ops, same cast)."""
    p = 10**digits
    return f"CAST(floor(({expr}) * {p}.0 + 0.5) / {p}.0 AS {grid})"


def corr_moment_aggs(
    xq: Column,
    yq: Column,
    prefix: str,
    prod_grid: str = PROD_GRID,
    prod_digits: int = 12,
) -> list[Column]:
    """Aggregate columns for the exact Pearson moments of the pair
    (xq, yq) — both must already be DECIMAL-quantized columns (nullable;
    a null on either side drops the PAIR from every moment, the
    complete-pairs semantics shared with SQL ``corr``). Emits
    ``{prefix}_n/sx/sy/sxy/sxx/syy``. ``prod_digits``/``prod_grid``
    size the product grid — keep |x·y| · 10^prod_digits < 2^53 (the
    quantize domain bound), so large-magnitude inputs need a coarser
    product grid than the 12-digit default."""
    m = xq.isNotNull() & yq.isNotNull()
    xd, yd = xq.cast("double"), yq.cast("double")

    def prod(a: Column, b: Column) -> Column:
        # snap-then-cast: the double product of two grid values is an
        # arbitrary double — pre-snapping pins the grid point
        return F.when(m, quantize(a * b, prod_digits, prod_grid))

    return [
        F.sum(m.cast("long")).alias(f"{prefix}_n"),
        F.sum(F.when(m, xq)).alias(f"{prefix}_sx"),
        F.sum(F.when(m, yq)).alias(f"{prefix}_sy"),
        F.sum(prod(xd, yd)).alias(f"{prefix}_sxy"),
        F.sum(prod(xd, xd)).alias(f"{prefix}_sxx"),
        F.sum(prod(yd, yd)).alias(f"{prefix}_syy"),
    ]


# The moment-kernel EXPRESSION LISTS are memoized per process (``cache``
# kind ``kernel``, shared with volatility.return_autocorr and
# similarity.ivf_index): one corr_moment_aggs call costs ~90 Py4J round
# trips of pure expression construction, and the corr family
# (q_autocorr, q_ljung_box, q_risk_report, q_lead_lag, q_stats_agg, ...)
# rebuilds the identical unresolved trees on every plan build.
# Unresolved Columns are immutable, input-independent descriptors, valid
# in any number of plans, so builders keyed purely by STRINGS (column
# names, prefixes, grids) can share them. The assert flag is part of the
# key because domain_checked bakes it into the tree at construction.
# Expressions only: never plans tied to a DataFrame, never data.
def corr_moment_aggs_named(
    x_name: str,
    y_name: str,
    prefix: str,
    prod_grid: str = PROD_GRID,
    prod_digits: int = 12,
) -> list[Column]:
    """Name-keyed, memoized :func:`corr_moment_aggs` — identical
    expression trees, built once per process per argument tuple."""
    key = (
        "aggs", x_name, y_name, prefix, prod_grid, prod_digits,
        numeric_assert_enabled(),
    )
    return cache.get("kernel", key, lambda: corr_moment_aggs(
        F.col(x_name), F.col(y_name), prefix, prod_grid, prod_digits
    ))


def corr_from_moments_named(prefix: str) -> Column:
    """Memoized :func:`corr_from_moments` (pure function of the
    prefix; no domain checks in this tree)."""
    return cache.get("kernel", ("corr", prefix), lambda: corr_from_moments(prefix))


def corr_from_moments(prefix: str) -> Column:
    """Gated Pearson from the ``corr_moment_aggs`` columns: NULL unless
    n ≥ 2 and both variance terms are strictly positive. Fixed-order
    double expression — bit-identical to the SQL twin."""
    n = F.col(f"{prefix}_n").cast("double")
    sx = F.col(f"{prefix}_sx").cast("double")
    sy = F.col(f"{prefix}_sy").cast("double")
    sxy = F.col(f"{prefix}_sxy").cast("double")
    sxx = F.col(f"{prefix}_sxx").cast("double")
    syy = F.col(f"{prefix}_syy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return F.when(
        (F.col(f"{prefix}_n") >= 2) & (vx > 0) & (vy > 0),
        (n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)),
    )


def corr_moments_sql(
    x: str,
    y: str,
    prefix: str,
    prod_grid: str = "DECIMAL(38,12)",
    prod_digits: int = 12,
) -> str:
    """Oracle select-list snippet mirroring ``corr_moment_aggs``.
    ``x``/``y`` are SQL expressions for the ALREADY-quantized decimal
    inputs (evaluated once per moment — keep them simple columns)."""
    m = f"{x} IS NOT NULL AND {y} IS NOT NULL"
    xd, yd = f"CAST({x} AS DOUBLE)", f"CAST({y} AS DOUBLE)"

    def prod(a: str, b: str) -> str:
        return quantize_sql(f"{a} * {b}", prod_digits, prod_grid)

    return (
        f"sum(CASE WHEN {m} THEN 1 ELSE 0 END) AS {prefix}_n,\n"
        f"sum(CASE WHEN {m} THEN {x} END) AS {prefix}_sx,\n"
        f"sum(CASE WHEN {m} THEN {y} END) AS {prefix}_sy,\n"
        f"sum(CASE WHEN {m} THEN {prod(xd, yd)} END) AS {prefix}_sxy,\n"
        f"sum(CASE WHEN {m} THEN {prod(xd, xd)} END) AS {prefix}_sxx,\n"
        f"sum(CASE WHEN {m} THEN {prod(yd, yd)} END) AS {prefix}_syy"
    )


def corr_value_sql(prefix: str) -> str:
    """Oracle expression mirroring ``corr_from_moments`` over the
    ``corr_moments_sql`` columns (reference them from an inner SELECT)."""
    n = f"CAST({prefix}_n AS DOUBLE)"
    sx, sy = f"CAST({prefix}_sx AS DOUBLE)", f"CAST({prefix}_sy AS DOUBLE)"
    sxy = f"CAST({prefix}_sxy AS DOUBLE)"
    sxx, syy = f"CAST({prefix}_sxx AS DOUBLE)", f"CAST({prefix}_syy AS DOUBLE)"
    vx = f"({n} * {sxx} - {sx} * {sx})"
    vy = f"({n} * {syy} - {sy} * {sy})"
    return (
        f"CASE WHEN {prefix}_n >= 2 AND {vx} > 0 AND {vy} > 0 "
        f"THEN ({n} * {sxy} - {sx} * {sy}) / (sqrt({vx}) * sqrt({vy})) END"
    )
