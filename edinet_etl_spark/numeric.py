"""Order-independent numeric aggregation helpers.

Floating-point SUM is not associative: on a 1000-executor cluster the
partial-aggregate tree shape (and thus the addition order) varies run to
run, so ``SUM(double)`` is nondeterministic in its low bits.  That is
unacceptable for (a) reproducible pipelines and (b) byte-comparability
against an external oracle.

The fix used throughout this engine: cast each input to a fixed-scale
DECIMAL *before* summing.  Decimal addition is exact and associative, so
the sum is identical for every partitioning / AQE re-plan / engine, and
the final cast back to DOUBLE is a single deterministic rounding.
Verified empirically: Spark and DuckDB produce bit-identical results for
this pattern on the test tables.

Scale choice: the cast scale must be STRICTLY FINER than the data's
intrinsic decimal resolution.  Inputs here carry ≤2 decimal digits, so
2-factor products carry ≤4 and 3-factor products ≤6; at a cast scale
equal to the intrinsic resolution, true values sit exactly on rounding
midpoints and engines disagree on tie direction.  One digit finer, every
value sits (within float error) ON a grid point and all engines round
identically.  Scale 8 covers any ≤7-digit intrinsic resolution while
keeping |value|·10^8 well below 2^53 for values < 3·10^7 (so the
engine-side scaling multiply cannot perturb the rounding).
DECIMAL(18,8) per-value with DECIMAL(38,8) accumulation still leaves
10^10 per-value and 10^30 total headroom — ample for 100 TB facts.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC_SCALE = 8
_Q8 = Decimal(1).scaleb(-DEC_SCALE)


def dec(c: Column, scale: int = DEC_SCALE) -> Column:
    """Cast a double column to exact fixed-point for associative math."""
    return c.cast(f"decimal(18,{scale})")


def dec8(x: float) -> Decimal:
    """Python-side mirror of ``dec``: the exact decimal Spark's HALF_UP
    cast of the double ``x`` to scale 8 yields (repr → shortest decimal
    → setScale).  Summing these is exact and order-free, so Python
    kernels match the engine's ``dsum`` bit-for-bit.  NaN raises
    (``InvalidOperation``): callers skip it, as SQL SUM skips NULL."""
    return Decimal(repr(x)).quantize(_Q8, rounding=ROUND_HALF_UP)


def _dec_to_double(c: Column) -> Column:
    """DECIMAL → DOUBLE via a string hop.

    Direct decimal→double conversion double-rounds differently across
    engines once the decimal exceeds ~15 significant digits (int128 →
    double → ÷10^scale vs BigDecimal paths can differ by 1 ulp).
    Decimal→string is exact everywhere and string→double is correctly
    rounded everywhere (strtod/parseDouble), so this hop is the portable
    correctly-rounded conversion.  Cost: once per output row.
    """
    return c.cast("string").cast("double")


def dsum(c: Column, alias: str, scale: int = DEC_SCALE) -> Column:
    """Exact, order-independent SUM of a double column, surfaced as DOUBLE."""
    return _dec_to_double(F.sum(dec(c, scale))).alias(alias)


def davg(c: Column, alias: str, scale: int = DEC_SCALE) -> Column:
    """Order-independent AVG: exact decimal sum / count, divided in DOUBLE.

    (Engine-native AVG(decimal) rounds the division at engine-specific
    scales; doing the division explicitly in double keeps it portable.)
    """
    return (_dec_to_double(F.sum(dec(c, scale))) / F.count(c)).alias(alias)


# --- SQL-side mirrors (ANSI strings for oracle / documentation parity) ---


def sql_dsum(expr: str, alias: str, scale: int = DEC_SCALE) -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS VARCHAR) AS DOUBLE)"
        f" AS {alias}"
    )


def sql_davg(expr: str, alias: str, scale: int = DEC_SCALE) -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS VARCHAR) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )
