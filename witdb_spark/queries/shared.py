"""Shared helpers for deterministic, oracle-matchable aggregation.

Why decimals: Spark and DuckDB both sum doubles in partition/vector order,
which differs run to run and engine to engine; the last ulps of a double sum
are therefore not comparable. Casting each row to a fixed-scale DECIMAL makes
the sum exact (associative), after which one cast back to DOUBLE is
deterministic and identical in both engines. Precision 38 headroom: at
sf100000 lineitem is ~6e11 rows * 1e5 price = 6e16 -> fits scale-4/precision-30
sums with room to spare.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Per-row cast target for money/quantity doubles. Scale 6 keeps products like
# extendedprice*(1-discount) exact enough to be engine-identical. Precision 18
# (r15): per-row values stay in Spark's compact-long Decimal representation
# (precision <= 18), so the sum's hot loop is long arithmetic instead of
# BigDecimal — measured ~0.7s off tpch_q1 at sf0.1, values byte-identical.
# Bounds: inputs are money/quantity magnitudes (< 1e9; cap 1e12), and SUM
# widens to decimal(28,6) (cap 1e22) — a 100 TB corpus total of ~1e15 fits
# with 7 orders of margin; ANSI mode makes any overflow loud, never silent.
# The DuckDB oracle twins keep DECIMAL(30,6): both engines sum exactly, so
# equal values are guaranteed at any width that does not overflow.
DEC = "decimal(18,6)"


def dsum(col: Column | str, alias: str) -> Column:
    """Exact sum of a double column, returned as double. SQL twin: SUM_D()."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Deterministic mean: exact decimal sum, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def sql_sum(expr: str, alias: str) -> str:
    """DuckDB twin of dsum for oracle strings."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE) AS {alias}"


def sql_avg(expr: str, alias: str) -> str:
    """DuckDB twin of davg."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE) / COUNT({expr}) AS {alias}"


def ts(date_str: str) -> Column:
    """A timestamp_ntz literal for comparisons against parquet timestamps."""
    return F.lit(date_str).cast("timestamp_ntz")
