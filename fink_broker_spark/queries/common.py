"""Helpers shared by more than one query family.

Oracle-parity discipline (why results hash-match DuckDB bit-for-bit):
- sums over floating columns go through exact DECIMAL aggregation and are
  cast to DOUBLE at the very end;
- derived doubles (jd, ratios, cosines) are written as the *same IEEE
  operation tree* on both sides (left-to-right reductions, explicit double
  casts), so no rounding tolerance is needed;
- every computed column is explicitly aliased and typed identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _finite(col):
    """TRUE iff ``col`` is a finite double (not NaN, not ±Inf); NULL
    for NULL.  The engine/oracle divergence this guards (measured,
    nanemb driftlab layout): Spark's double→DECIMAL cast maps
    NaN/Inf to NULL even under ANSI while DuckDB hard-errors, and
    Spark's ``floor(double)`` returns a LONG with floor(NaN) = 0 /
    floor(±Inf) = ±Long.MAX (silent corruption) while DuckDB's FLOOR
    stays double and the BIGINT cast hard-errors.  Oracle mirror:
    ``isfinite(x)``.  NaN is excluded explicitly first — Spark treats
    NaN as an orderable greatest value, so ``abs(NaN) != Inf`` alone
    would be TRUE."""
    c = F.col(col) if isinstance(col, str) else col
    return ~F.isnan(c) & (F.abs(c) != F.lit(float("inf")))


def _dec(col, scale: int = 9):
    """Exact decimal view of a float column for deterministic aggregation.

    NaN/±Inf fold to NULL: that is what Spark's double→decimal cast
    already does (even ANSI-on), so the ``F.when`` guard
    is engine-semantics-preserving — it exists so the ORACLE mirror
    ``CAST(CASE WHEN isfinite(x) THEN x END AS DECIMAL(18,s))`` is the
    literal same tree (DuckDB's cast hard-errors on non-finite instead
    of NULLing; nanemb driftlab layout)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(_finite(c), c).cast(f"decimal(18,{scale})")


def _day(col):
    """Exact epoch-day of a normalized timestamp column — the ONE
    integer day key every calendar-bucketed query shares (oracle twin:
    ``CAST(FLOOR(epoch_us(c) / 86400000000) AS BIGINT)``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(F.unix_micros(c) / F.lit(86_400_000_000)).cast("long")


def _limb3_bigints(col: str, prefix: str) -> list[Column]:
    """decimal(38,0) → three exact BIGINT limbs for EMISSION
    (v = hi·10¹⁸ + mid·10⁹ + lo).  The driver's canonicalizer fetches
    DuckDB ``DECIMAL(p>18, 0)`` (HUGEINT-backed in DuckDB's Python
    client) differently from Spark's ``Decimal``, so a wide-decimal
    output column hash-splits even when every value is identical
    cross-engine (the HUGEINT fetch-typing family, one level up).  Wide
    decimals therefore stay INTERNAL (overflow headroom is still
    wanted there) and leave the query as three BIGINTs, exact while
    0 ≤ v < 2⁶³·10¹⁸ ≈ 9.2e36 (same envelope as
    ``_limb3_double``; requires v ≥ 0 — DIV truncates, ``//``
    floors).  ``admin/typeaudit`` now forbids any emitted decimal
    wider than 18 digits so this class cannot re-enter.

    Oracle twin (mirror verbatim, v a HUGEINT/DECIMAL(38,0))::

        CAST(v // 1000000000000000000 AS BIGINT)                 AS p_hi,
        CAST((v % 1000000000000000000) // 1000000000 AS BIGINT)  AS p_mid,
        CAST(v % 1000000000 AS BIGINT)                           AS p_lo
    """
    return [
        F.expr(f"CAST({col} DIV 1000000000000000000 AS BIGINT)").alias(
            f"{prefix}_hi"
        ),
        F.expr(
            f"CAST(({col} % 1000000000000000000) DIV 1000000000 AS BIGINT)"
        ).alias(f"{prefix}_mid"),
        F.expr(f"CAST({col} % 1000000000 AS BIGINT)").alias(f"{prefix}_lo"),
    ]
