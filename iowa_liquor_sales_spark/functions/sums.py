"""Deterministic (order-independent) floating aggregates.

Summing doubles in Spark is partition-order dependent; the same query can
hash differently run-to-run and will differ from a single-threaded oracle.
The engine's convention for money-like measures: cast each row to an exact
DECIMAL (the inputs are fixed-point values stored as doubles — see
FIXTURES.md), sum exactly in decimal (Spark's decimal sum is exact and
associative, so map-side partial aggregation still applies), then cast the
final scalar back to double. Bit-identical on any partitioning / any engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, scale: int = 2, alias: str | None = None) -> Column:
    """Exact sum of a fixed-point-valued double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(18,{scale})")).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, scale: int = 2, alias: str | None = None) -> Column:
    """Deterministic mean: exact decimal sum divided (in double) by count."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(18,{scale})")).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def xsum(col: Column | str, alias: str | None = None) -> Column:
    """Exact integer sum as DECIMAL(38,0) — overflow-safe at any scale
    factor (1e38 headroom vs BIGINT's 9.2e18; squared-cents sums pass
    2^63 around sf1)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast("decimal(38,0)"))
    return out.alias(alias) if alias else out


def det_double(name: str) -> Column:
    """Deterministic DECIMAL(38,0) → DOUBLE conversion.

    A direct decimal/int128 → double cast is correctly rounded only per
    engine implementation (Java BigDecimal vs DuckDB hugeint use different
    code paths), so for sums above 2^53 the two engines may disagree in the
    last ulp — exactly the divergence a bitwise value hash detects. Instead
    split the integer into two int64 halves (int64 → double is a single
    correctly-rounded hardware instruction everywhere) and reconstruct
    ``hi * 1e9 + lo`` in double: bit-identical on every engine, exact for
    |v| < 2^53 * 1e9 ≈ 9e24 (≳ sf10000 for squared-cents sums), and still
    deterministic beyond. Takes the column NAME (needs SQL ``div``).
    """
    return F.expr(
        f"CAST({name} div 1000000000 AS DOUBLE) * 1000000000.0 + "
        f"CAST(CAST({name} - ({name} div 1000000000) "
        f"* CAST(1000000000 AS DECIMAL(38,0)) AS BIGINT) AS DOUBLE)"
    )


def floor_scaled(col: Column, pow10: int, alias: str) -> Column:
    """Emit a double statistic as floor(x * 10^k) BIGINT — the house
    convention for driver-hashable stat outputs. floor() of a
    deterministically-computed double is itself deterministic (no
    round-half implementation divergence, unlike ROUND(double, k))."""
    return F.floor(col * F.lit(float(10**pow10))).cast("long").alias(alias)


def det_double_sql(name: str) -> str:
    """DuckDB twin of :func:`det_double`.

    Spark's ``div`` truncates toward zero. DuckDB's ``//`` also truncates
    for INTEGRAL operands (verified: ``(-7000000001)::HUGEINT //
    1000000000 = -7``) even though its docs describe ``//`` as floor
    division (true only for FLOAT/DOUBLE operands) — so the two (hi, lo)
    decompositions already agree on negative sums. The CASE below pins
    truncation semantics explicitly anyway, so a DuckDB version that
    changes integral ``//`` to floor cannot silently reintroduce a
    last-ulp divergence on negative sums past 2^53.
    """
    hi = (
        f"(CASE WHEN ({name}) < 0 THEN -((-({name})) // 1000000000) "
        f"ELSE ({name}) // 1000000000 END)"
    )
    return (
        f"(CAST({hi} AS DOUBLE) * 1000000000.0 + "
        f"CAST(CAST({name} - {hi} * 1000000000 "
        f"AS BIGINT) AS DOUBLE))"
    )


def det_double_py(v: int) -> float:
    """Python twin of :func:`det_double` for Arrow-UDF kernels that must
    stay bit-identical to the SQL renderings: same truncation-toward-zero
    hi/lo split, same ``float(hi) * 1e9 + float(lo)`` double finish.
    (Python ``//`` floors, so negatives are sign-handled explicitly;
    a direct ``float(v)`` would be correctly rounded — a DIFFERENT result
    from the two-term reconstruction once ``|v|`` exceeds 2^53.)"""
    hi = -((-v) // 1_000_000_000) if v < 0 else v // 1_000_000_000
    lo = v - hi * 1_000_000_000
    return float(hi) * 1e9 + float(lo)


def floor_scaled_sql(expr: str, pow10: int, alias: str) -> str:
    """DuckDB twin of :func:`floor_scaled`."""
    return f"CAST(floor(({expr}) * {float(10 ** pow10)!r}) AS BIGINT) AS {alias}"
