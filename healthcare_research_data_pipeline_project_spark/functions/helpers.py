"""Deterministic-numerics helpers.

The driver's correctness gate hashes result values against a DuckDB
oracle, so every floating aggregate must be *bit-reproducible across
engines*. Two engine asymmetries drive the design:

1. Aggregation order: double addition is not associative, and Spark's
   partial/final aggregation order differs from DuckDB's. Fix: sums of
   money/quantity cast each value to DECIMAL(18,2) *before* summing —
   decimal addition is exact and associative.
2. Rounding ties: Spark's `round(double, n)` rounds the *shortest
   decimal representation* of the double (Java `BigDecimal.valueOf`),
   while DuckDB rounds the binary value. For exact-tie rationals
   (e.g. 189/40 = 4.725) the two disagree by one ulp of the target
   scale. Fix: every ratio of exact integers (counts, decimal-cents
   sums) is rounded *in integer arithmetic* — `round_div` — which both
   engines evaluate identically. Plain `round` is reserved for
   genuinely irrational statistics (stddev/corr/percentile/cosine)
   where exact decimal ties have measure zero.

Every helper has a DuckDB twin (`duck_*`) generating the matching SQL
fragment, so query and oracle share one formula.

Scale note: `round_div` works in DECIMAL(38,0)/HUGEINT (exact while
|2·num·10^scale| < 10^38 — ~10^19 of BIGINT headroom beyond the old
long-arithmetic version, whose internal `long/long` division silently
degraded past 2^53 and overflowed past 2^63; both failure modes were
observed at sf0.1 numerators and are the reason for the decimal form).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def col_of(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Exact integer-arithmetic rounding (engine-portable HALF_UP)
# ---------------------------------------------------------------------------
def round_div(num: Column, den: Column, alias: str, scale: int = 2) -> Column:
    """HALF_UP(num/den, scale) for non-negative integer columns, exact:
    floor((2·num·10^s + den) / (2·den)) / 10^s, all in DECIMAL(38,0).

    Why decimal, not long: `(x - x%y) / y` on longs runs the division
    in DOUBLE, so once x exceeds 2^53 the numerator rounds before
    dividing (observed: 0.9622 drifting to 0.96219999...), and past
    2^63 the x expression overflows outright under ANSI. In decimal
    the subtraction/modulo are exact at 38 digits, and because
    x − x%y is an exact multiple of y the decimal division's true
    quotient is an integer — representable exactly at any result
    scale, so no rounding can occur. The final q/10^s likewise has
    exactly `scale` decimals, exact in the decimal domain; the single
    terminal cast to double is correctly rounded in both engines."""
    p = 10**scale
    d38 = "decimal(38,0)"
    x = num.cast(d38) * F.lit(2 * p) + den.cast(d38)
    y = den.cast(d38) * F.lit(2)
    q = (x - x % y) / y  # decimal division; true value is an integer
    return (
        F.when(den.cast(d38) == 0, F.lit(None))
        .otherwise(q / F.lit(p))
        .cast("double")
        .alias(alias)
    )


def duck_round_div(num: str, den: str, scale: int = 2) -> str:
    p = 10**scale
    return (
        f"CAST(CASE WHEN ({den}) = 0 THEN NULL ELSE "
        f"((2 * CAST({num} AS HUGEINT) * {p} + CAST({den} AS HUGEINT))"
        f" // (2 * CAST({den} AS HUGEINT))) / {p}.0 END AS DOUBLE)"
    )


# ---------------------------------------------------------------------------
# Exact decimal sums / averages
# ---------------------------------------------------------------------------
def sum_cents(c: str | Column) -> Column:
    """Exact SUM of a 2-dp money column, in integer cents."""
    return F.sum(col_of(c).cast(DEC) * 100).cast("long")


def duck_sum_cents(c: str) -> str:
    return f"CAST(SUM(CAST({c} AS DECIMAL(18,2)) * 100) AS BIGINT)"


def dec_sum(c: str | Column, alias: str, scale: int = 2) -> Column:
    """Exact decimal sum, rounded, emitted as double."""
    return F.round(F.sum(col_of(c).cast(DEC)), scale).cast("double").alias(alias)


def dec_avg(c: str | Column, alias: str, scale: int = 2) -> Column:
    """AVG of a money column: exact cents sum / (100·count), HALF_UP."""
    cc = col_of(c)
    return round_div(sum_cents(cc), F.count(cc) * 100, alias, scale)


def duck_dec_avg(c: str, scale: int = 2) -> str:
    return duck_round_div(duck_sum_cents(c), f"COUNT({c}) * 100", scale)


# ---------------------------------------------------------------------------
# Misc aggregates
# ---------------------------------------------------------------------------
def rnd(c: Column, alias: str, scale: int = 2) -> Column:
    """ROUND emitted as double — only for irrational-valued stats or
    values already exact at `scale` (see module docstring)."""
    return F.round(c, scale).cast("double").alias(alias)


def count_if(cond: Column, alias: str) -> Column:
    """COUNT(CASE WHEN cond THEN 1 END) — conditional aggregation (A5)."""
    return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(alias)


def pct(num: Column, den: Column, alias: str, scale: int = 2) -> Column:
    """`num * 100.0 / den` rate arithmetic (F12) over integer counts,
    exact HALF_UP via round_div."""
    return round_div(num * 100, den, alias, scale)


def duck_pct(num: str, den: str, scale: int = 2) -> str:
    return duck_round_div(f"({num}) * 100", den, scale)


def lng(c: Column, alias: str) -> Column:
    return c.cast("long").alias(alias)
