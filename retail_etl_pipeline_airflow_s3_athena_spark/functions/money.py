"""Exact fixed-point (integer-cents) monetary aggregation.

Why this module exists
----------------------
``dround(F.sum(<double>), 2)`` is *almost* deterministic: the round
itself is cross-engine stable, but the SUM underneath it is a floating
point accumulation whose order depends on partitioning, so Spark and
DuckDB (or two Spark runs with different partition counts) can land an
ulp apart.  When the true sum sits within that ulp of a ``.005``
boundary the rounded cents flip — a penny-level flake that only shows
up at scale (first observed on ``nation_year_profit`` at sf0.1: 2 of
175 cells off by $0.01).

The fix is to never sum doubles when the data is fixed-point decimal.
TPC-H-style prices, account balances, and supply costs are exactly
2 decimal places; discounts and taxes are exact hundredths.  So:

- per row, recover the exact scaled integer: ``cents(col)`` =
  ``CAST(FLOOR(col * 100 + 0.5) AS BIGINT)``.  The double stored in
  parquet is the nearest double to the true 2-dp decimal, so the
  nearest integer to ``col * 100`` is exact — no information loss.
- aggregate exactly: the per-row integers are summed as
  DECIMAL(38,0) on the Spark side (exact, map-side combinable,
  overflow-proof to 1e38 — a raw BIGINT sum of 1e-4-dollar units
  would overflow around sf1500, within reach of a 100 TB corpus
  funneled into one group) and as DuckDB's native SUM(BIGINT) →
  HUGEINT on the oracle side.  Integer addition is associative and
  commutative, so both engines hold the *same exact integer*
  regardless of accumulation order.
- convert once at the end: both engines round the same exact integer
  to the nearest double (IEEE round-to-nearest is engine-independent)
  and divide by the same power of ten — bit-identical results.

Products of fixed-point terms stay exact in integers:
``price * (1 - discount)`` = ``cents(price) * (100 - cents(discount))``
in units of 1e-4 dollars; ``supplycost * quantity`` =
``cents(supplycost) * qty`` in units of 1e-2.  Sums of those are exact
BIGINTs too.

Every helper has an SQL twin (``sql_*``) emitting dialect-common text
(Spark SQL + DuckDB) so oracle queries use the *same* integer
arithmetic — both sides produce the same BIGINT, hence the same final
double, hence the same value hash at any scale factor and any
partition count.

Scale note (100 TB): these are plain codegen'd column expressions —
``floor``/``cast`` per row, then a map-side-combinable LongType SUM.
Exactness costs nothing: no UDF, no extra shuffle, narrower shuffle
rows than double-sum (8-byte long vs 8-byte double + no Kahan state).

Continuous (non-fixed-point) doubles — per-unit prices that are
quotients, event values, similarity scores — have no exact decimal to
recover, but the same machinery still removes ALL order dependence:
``money_sum(col, digits=8)`` quantizes each row's double to a 1e-8
grid (both engines quantize the identical double identically), sums
exact integers, and divides once.  The result differs from the ideal
real-number aggregate by at most n·5e-9 but is bit-identical across
engines and partitionings — determinism comes from per-row
quantization being order-independent, not from hoping the float sum
lands away from a rounding boundary.

Reference parity: the reference rounds eagerly in pandas
(`scripts/transform.py`, `scripts/athena_queries.py:74-126` ROUND(...,2))
and inherits the same float-order hazard; this module is the
deterministic upgrade, not a semantic change.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str, digits: int = 2) -> Column:
    """Exact scaled-integer recovery of a fixed-point double column.

    ``cents(price)`` -> BIGINT hundredths.  Valid when the column's true
    values have at most ``digits`` decimal places and ``|x| * 10^digits``
    < 2^52 (always true for money columns).  Uses floor(x+0.5) (not
    ROUND) so Spark and DuckDB agree on every representable input,
    including negatives? — no: floor(x+0.5) rounds *half-up toward
    +inf* for negatives, which is fine because both engines do the
    identical operation; the recovered integer is exact either way
    since the true value is never at a half boundary.
    """
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**digits)
    return F.floor(c * scale + F.lit(0.5)).cast("long")


def sql_cents(expr: str, digits: int = 2) -> str:
    """SQL twin of :func:`cents` (dialect-common Spark SQL / DuckDB)."""
    return f"CAST(FLOOR(({expr}) * 1e{digits} + 0.5) AS BIGINT)"


def exact_sum(int_col: Column) -> Column:
    """Overflow-proof order-independent SUM of an exact integer column:
    DECIMAL(38,0) accumulation (exact, map-side combinable), converted
    to double once at the end.  The DuckDB twin is plain SUM — DuckDB
    widens SUM(BIGINT) to HUGEINT natively, so neither side can
    overflow or drift."""
    return F.sum(int_col.cast("decimal(38,0)")).cast("double")


def sql_exact_sum(int_expr: str) -> str:
    """SQL twin of :func:`exact_sum`.  DECIMAL(38,0) accumulation is
    dialect-common (some oracle strings also run verbatim in Spark
    SQL, so DuckDB-only HUGEINT is out) and overflow-proof in both
    engines."""
    return f"CAST(SUM(CAST({int_expr} AS DECIMAL(38,0))) AS DOUBLE)"


def money_sum(col: Column | str, digits: int = 2) -> Column:
    """Order-independent SUM of a fixed-point double column.

    Sums exact scaled integers and divides once: every partitioning
    and every engine yields the identical double.  NULL-transparent
    like SUM (cents() of NULL is NULL, SUM skips it).
    """
    return exact_sum(cents(col, digits)) / float(10**digits)


def sql_money_sum(expr: str, digits: int = 2) -> str:
    """SQL twin of :func:`money_sum`."""
    return f"({sql_exact_sum(sql_cents(expr, digits))} / 1e{digits})"


def money_avg(col: Column | str, digits: int = 2) -> Column:
    """Order-independent AVG of a fixed-point double column: exact
    integer sum / non-null count / scale.  Identical across engines
    because both divide the same two exact numbers in the same
    (left-associative) order."""
    c = cents(col, digits)
    return exact_sum(c) / F.count(c) / float(10**digits)


def sql_money_avg(expr: str, digits: int = 2) -> str:
    """SQL twin of :func:`money_avg`."""
    ce = sql_cents(expr, digits)
    return f"({sql_exact_sum(ce)} / COUNT({ce}) / 1e{digits})"


def revenue_e4(price: Column | str, discount: Column | str) -> Column:
    """Exact BIGINT of ``price * (1 - discount)`` in 1e-4 dollars.

    price is 2-dp, discount is an exact hundredth, so
    ``cents(price) * (100 - cents(discount))`` is the exact product
    scaled by 1e4.  Sum this and divide by 1e4 for an
    order-independent revenue sum.
    """
    return cents(price) * (F.lit(100) - cents(discount))


def sql_revenue_e4(price: str, discount: str) -> str:
    """SQL twin of :func:`revenue_e4`."""
    return f"({sql_cents(price)} * (100 - {sql_cents(discount)}))"


def revenue_sum(price: Column | str, discount: Column | str) -> Column:
    """Order-independent SUM(price * (1 - discount)) via exact 1e-4
    integers."""
    return exact_sum(revenue_e4(price, discount)) / 1e4


def sql_revenue_sum(price: str, discount: str) -> str:
    """SQL twin of :func:`revenue_sum`."""
    return f"({sql_exact_sum(sql_revenue_e4(price, discount))} / 1e4)"


def price_qty_e2(price: Column | str, qty: Column | str) -> Column:
    """Exact BIGINT of ``price * quantity`` in cents (price 2-dp,
    quantity integer-valued)."""
    q = F.col(qty) if isinstance(qty, str) else qty
    return cents(price) * q.cast("long")


def price_qty_sum(price: Column | str, qty: Column | str) -> Column:
    """Order-independent SUM(price * quantity) via exact cents."""
    return exact_sum(price_qty_e2(price, qty)) / 1e2


def int_avg(col: Column | str) -> Column:
    """Order-independent AVG of an integer-valued column (exact integer
    sum / count) — Spark's AVG over integral types accumulates in
    DOUBLE, which is order-dependent; this is not."""
    c = F.col(col) if isinstance(col, str) else col
    lc = c.cast("long")
    return exact_sum(lc) / F.count(lc)


def sql_int_avg(expr: str) -> str:
    """SQL twin of :func:`int_avg`."""
    ce = f"CAST(({expr}) AS BIGINT)"
    return f"({sql_exact_sum(ce)} / COUNT({ce}))"
