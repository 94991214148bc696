"""Scaled-integer (fixed-point) arithmetic for oracle-exact outputs.

Round 4's driver correctness run proved two distinct hash-fragility
classes in emitted columns (VERDICT round 4, memory:
spark-graft-conventions):

1. ``round(double, n)`` at OUTPUT precision — Spark rounds via
   BigDecimal HALF_UP of the binary value, DuckDB via its own
   float-rounding path; at representation boundaries (values that are
   exactly ``k·10^-n`` in decimal but not in binary) the two can flip
   opposite ways. ``events_ewma`` carried 27/4006 such flips, and the
   per-step-rounded recursion propagated every one.
2. Non-portable result TYPES — DuckDB ``sum(BIGINT)`` and windowed
   sums return HUGEINT (int128); DECIMAL columns survive into the
   driver's hashing layer. Python's ``fetchall()`` collapses both to
   int/float so a tolerance-based local gate can't see the
   difference, but the driver's canonicalization can — all four
   "bit-exact locally yet driver-red" round-4 queries emitted HUGEINT
   or DECIMAL columns, and no driver-green query did.

The cure for both is the same: do the final arithmetic in exact
BIGINT "micro-units" (or whatever scale fits) on BOTH engines, then
either emit the BIGINT itself or divide once by the scale as plain
IEEE doubles — integer ops are bit-identical everywhere, and a single
``CAST(k AS DOUBLE) / 1000000.0`` is one correctly-rounded IEEE op
that cannot disagree between engines.

This module holds the Spark-side helpers; every helper documents its
DuckDB spelling so oracles stay line-for-line replayable. Spark's
integral division is the SQL ``div`` function (exact on BIGINT —
verified well past 2^53, where a double-based floor would corrupt).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _idiv(a: Column, b: Column) -> Column:
    """Exact integral ``a div b`` (truncating; == floor for a >= 0)."""
    return F.call_function("div", a, b)


def div_half_up(num: Column, den: Column) -> Column:
    """Exact integer ``round(num / den)`` with HALF_UP (away-from-zero)
    ties — the same tie rule as Spark's ``round`` and DuckDB's decimal
    round. Integral columns only, ``den > 0``.

    HEADROOM PRECONDITION (ADVICE round 5): the intermediate is
    ``2*|num| + den`` in int64, so callers must keep
    ``|num| < (2^63 - den) / 2`` ≈ 4.6e18. Since ``num`` is usually
    already scaled by ``10^dp`` (see :func:`exact_ratio`), the working
    bound is ``|raw_num| < 2^62 / 10^dp`` — e.g. ~4.6e11 for dp=6.
    Overflow fails LOUDLY on both engines rather than diverging:
    Spark 4 runs with ANSI mode on by default
    (``spark.sql.ansi.enabled=true``), which raises
    ``ARITHMETIC_OVERFLOW`` on int64 wrap, and DuckDB raises
    ``Out of Range`` — there is no silent-wrap configuration in play
    on either side of the oracle gate. Callers whose numerators can
    legitimately exceed the bound must pre-divide or route through
    ``decimal(38,0)`` before calling.

    DuckDB spelling (``//`` floors; operands are made non-negative so
    floor == truncate and the engines agree)::

        CASE WHEN num >= 0 THEN (2 * num + den) // (2 * den)
             ELSE -((-2 * num + den) // (2 * den)) END
    """
    num = num.cast("bigint")
    den = den.cast("bigint")
    return F.when(
        num >= 0, _idiv(2 * num + den, 2 * den)
    ).otherwise(-_idiv(-2 * num + den, 2 * den))


def micros_to_double(c: Column) -> Column:
    """Micro-units → double: one IEEE division, bit-identical in every
    engine. DuckDB spelling: ``(k::DOUBLE) / 1000000.0``."""
    return c.cast("double") / F.lit(1000000.0)


def exact_ratio(num: Column, den: Column, dp: int = 6) -> Column:
    """The portable spelling of ``round(num / den, dp)`` as a double:
    integer scaled units first (HALF_UP), then one exact
    cast-and-divide. DuckDB: :func:`sql_exact_ratio`."""
    scale = 10**dp
    q = div_half_up(num.cast("bigint") * F.lit(scale), den)
    return q.cast("double") / F.lit(float(scale))


def try_exact_ratio(num: Column, den: Column, dp: int = 6) -> Column:
    """:func:`exact_ratio` with ``try_divide`` semantics: NULL when
    the denominator is 0. DuckDB: :func:`sql_try_exact_ratio`."""
    return F.when(den != 0, exact_ratio(num, den, dp))


#: DuckDB fragment builder for the same algebra (kept next to the
#: Spark helpers so the two spellings can't drift apart).
def sql_div_half_up(num: str, den: str) -> str:
    return (
        f"(CASE WHEN ({num}) >= 0 "
        f"THEN (2 * ({num}) + ({den})) // (2 * ({den})) "
        f"ELSE -((-2 * ({num}) + ({den})) // (2 * ({den}))) END)"
    )


def sql_exact_ratio(num: str, den: str, dp: int = 6) -> str:
    """DuckDB twin of :func:`exact_ratio` (scaled-unit half-up ratio
    as double). Cast ``num``/``den`` to BIGINT before calling if they
    are sums (HUGEINT would otherwise propagate)."""
    scale = 10**dp
    q = sql_div_half_up(f"({num}) * {scale}", den)
    return f"(({q})::DOUBLE / {scale}.0)"


def sql_try_exact_ratio(num: str, den: str, dp: int = 6) -> str:
    """DuckDB twin of :func:`try_exact_ratio` (NULL on zero/NULL
    denominator)."""
    return (
        f"(CASE WHEN ({den}) <> 0 "
        f"THEN {sql_exact_ratio(num, den, dp)} END)"
    )
