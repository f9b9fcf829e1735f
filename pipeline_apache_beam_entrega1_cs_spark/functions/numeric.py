"""Deterministic aggregate helpers.

Floating-point sums are partition-order dependent: Spark's partial
aggregation adds doubles in whatever order tasks finish, so the same
query can differ in the last ulps run-to-run — and will differ from a
single-threaded oracle. These helpers make aggregate results EXACT and
engine-independent by summing as fixed-scale decimals and casting the
final result back to double. This is also the right call at 100 TB:
money-like columns summed as decimal don't accumulate fp drift across
a million partial aggregates.

Oracle-side mirror (DuckDB):
    CAST(CAST(SUM(CAST(x AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)

The final decimal->double conversion goes THROUGH A STRING on both
engines. Direct decimal->double casts double-round once the unscaled
value exceeds 2^53 (DuckDB computes (double)int128 / 10^scale — two
roundings; Spark's BigDecimal.doubleValue takes a different path), and
the two engines can land one ulp apart (observed on a 17-significant-
digit sum of squares). Every engine's string->double parse is a single
correctly-rounded strtod of the same exact decimal, so the string hop is
portable at ANY magnitude — which is what a 100 TB sum needs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,4)"


def _dec_to_double(c: Column) -> Column:
    """Decimal -> double through a string: correctly rounded at any
    magnitude (see module docstring)."""
    return c.cast("string").cast("double")


def dsum(col: Column | str) -> Column:
    """Order-independent sum of a double column via decimal(18,4)."""
    c = F.col(col) if isinstance(col, str) else col
    return _dec_to_double(F.sum(c.cast(DEC)))


def davg(col: Column | str) -> Column:
    """Order-independent mean: exact decimal sum / count (double division
    of identical operands is deterministic everywhere)."""
    c = F.col(col) if isinstance(col, str) else col
    return _dec_to_double(F.sum(c.cast(DEC))) / F.count(c)


def sql_dsum(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT({expr})"


# --------------------------------------------------------------------------
# Exact decimal ARITHMETIC (not just exact sums).
#
# Casting a double PRODUCT like l_extendedprice * (1 - l_discount) to
# decimal is NOT engine-portable: Spark rounds the shortest decimal repr
# (BigDecimal.valueOf, HALF_UP) while DuckDB rounds the binary double, so
# rows landing on .xxxx5 boundaries round differently and grouped sums
# drift (TPC-H Q1 sum_charge is one such sum). The fix is to cast
# the OPERANDS to decimal and multiply in decimal: every money/rate column
# in the testdata is an exact 2-decimal value stored as a double
# (verified: max off-grid error < 5e-9), so DECIMAL(12,2) money ×
# DECIMAL(5,2) rate products are bit-exact in both engines, all
# intermediate precisions stay under 38, and no rounding happens anywhere
# until the final (correctly-rounded, deterministic) cast back to double.
# --------------------------------------------------------------------------

MONEY = "decimal(12,2)"  # price-like: 2-decimal, < 10^10
RATE = "decimal(4,2)"  # discount/tax-like: 2-decimal in [0, ~1.1]


def dmoney(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def done_minus(col: Column | str) -> Column:
    """(1 - rate) computed in decimal -> DECIMAL(5,2), exact."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lit(1).cast(RATE) - c.cast(RATE)


def done_plus(col: Column | str) -> Column:
    """(1 + rate) computed in decimal -> DECIMAL(5,2), exact."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lit(1).cast(RATE) + c.cast(RATE)


def drev(price: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """price * (1 - disc) as an exact DECIMAL(18,4) expression."""
    return dmoney(price) * done_minus(disc)


def dcharge(
    price: str = "l_extendedprice",
    disc: str = "l_discount",
    tax: str = "l_tax",
) -> Column:
    """price * (1 - disc) * (1 + tax) as an exact DECIMAL(24,6)."""
    return drev(price, disc) * done_plus(tax)


def dsum_dec(col: Column) -> Column:
    """Sum of an ALREADY-decimal expression, result as double. No per-row
    cast, so no rounding seam — use for drev()/dcharge()-style products."""
    return _dec_to_double(F.sum(col))


def sql_money(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(12,2))"


def sql_one_minus(expr: str) -> str:
    return f"(CAST(1 AS DECIMAL(4,2)) - CAST({expr} AS DECIMAL(4,2)))"


def sql_one_plus(expr: str) -> str:
    return f"(CAST(1 AS DECIMAL(4,2)) + CAST({expr} AS DECIMAL(4,2)))"


def sql_rev(price: str = "l_extendedprice", disc: str = "l_discount") -> str:
    return f"({sql_money(price)} * {sql_one_minus(disc)})"


def sql_charge(
    price: str = "l_extendedprice",
    disc: str = "l_discount",
    tax: str = "l_tax",
) -> str:
    return f"({sql_rev(price, disc)} * {sql_one_plus(tax)})"


def sql_dsum_dec(expr: str) -> str:
    return f"CAST(CAST(SUM({expr}) AS VARCHAR) AS DOUBLE)"
