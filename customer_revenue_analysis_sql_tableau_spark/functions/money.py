"""Decimal-exact money arithmetic, portable across Spark and DuckDB.

The reference keeps money in ``DECIMAL(5,2)`` (``payment.amount``,
``sql/sakila-schema.sql:274``) and rounds with MySQL ``ROUND`` (HALF_UP)
— ``queries_shan.sql:12-13``. Driver testdata stores prices as ``double``;
we cast to decimal at ingest so every SUM is exact and order-independent
(a float sum over 32 shuffle partitions is not reproducible, and the
DuckDB oracle hash-compares values bit-for-bit).

Division (``SUM(amount)/COUNT(*)`` — ``queries_shan.sql:13,141``) is the
one place engines disagree: Spark ``round(double, 2)`` goes through
``BigDecimal.valueOf`` (shortest-string re-read, so 3.705 → 3.71) while
DuckDB rounds the binary double (3.705 stored as 3.70499... → 3.70).
``round2_div`` sidesteps this with exact integer arithmetic, emitted
identically in both dialects.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Internal money scale: 2-decimal inputs × 2-decimal rates → scale 4 exact.
MONEY_SCALE = 4

#: Decimal type for raw money columns (cast from the parquet doubles).
MONEY_DECIMAL = "decimal(18,2)"


def cents(col: Column | str, scale: int = 2) -> Column:
    """Non-negative 2-dp double → exact integer of 10^-scale units, as long.

    ``floor(x·10^s + 0.5)`` is bit-identical to ``round(x·10^s)`` HALF_UP
    for non-negative inputs whose true value is a ``scale``-dp decimal:
    the double product lands within a few ulps of the integer, so adding
    0.5 and truncating (cast-to-long on a non-negative value) recovers it
    exactly. Unlike ``F.round`` this stays in primitive double/long
    arithmetic inside codegen — ``F.round`` on a double routes every row
    through ``BigDecimal.valueOf(...).setScale(...)``, measured ~30%
    slower across a 600k-row fact pass. NEGATIVE inputs would truncate
    toward zero instead of flooring — money/quantity/discount/tax are
    non-negative by schema; do NOT use this for ``acctbal``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (c * F.lit(10**scale) + F.lit(0.5)).cast("long")


def money(col: Column | str) -> Column:
    """Cast a (double) money column to exact DECIMAL(18,2)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY_DECIMAL)


def sum_money_as_double(col: Column, ndigits: int = 2) -> Column:
    """``ROUND(SUM(money), 2)`` as an exact double.

    The sum is decimal (exact); ROUND on decimal is HALF_UP in both
    engines; the final 2-decimal value converts to double losslessly.
    """
    return F.round(F.sum(col), ndigits).cast("double")


def round2_div(numer_scaled: Column, denom: Column, scale: int = MONEY_SCALE) -> Column:
    """``ROUND(numer/denom, 2)`` with HALF_UP, via exact integer math.

    ``numer_scaled`` is a decimal with ``scale`` fractional digits (e.g.
    a SUM of scale-4 money); ``denom`` is a positive integral count.
    round(N/(10^s·d), 2) in cents is ``(2·Ni + p·d) div (2·p·d)`` with
    ``Ni = N·10^s`` and ``p = 10^(s-2)`` — all longs, so both engines
    agree bit-for-bit. NULL propagates like plain division. Positive
    domain only (money); the final ``cents/100`` double is exact.
    """
    pow10 = 10 ** (scale - 2)
    n_int = (numer_scaled * F.lit(10**scale)).cast("long")
    d = denom.cast("long")
    num = F.lit(2) * n_int + F.lit(pow10) * d
    den = F.lit(2 * pow10) * d
    # integer division via num - (num mod den): exact for longs < 2^53
    cents = (num - F.pmod(num, den)) / den
    return cents / F.lit(100.0)


def round2_div_sql(numer_sql: str, denom_sql: str, scale: int = MONEY_SCALE) -> str:
    """DuckDB twin of :func:`round2_div` (same integer math, `//` div)."""
    pow10 = 10 ** (scale - 2)
    n_int = f"CAST(({numer_sql}) * {10**scale} AS BIGINT)"
    d = f"CAST({denom_sql} AS BIGINT)"
    return f"(((2*{n_int} + {pow10}*{d}) // (2*{pow10}*{d})) / 100.0)"
