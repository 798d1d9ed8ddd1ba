"""Pinot aggregation-function names as Spark aggregate Column builders.

Covers SURVEY §2.B B16-B34.  Each returns an unaliased aggregate Column built
from Spark built-ins (partial/final aggregation and map-side combine come free
from HashAggregateExec — the reference's server-partial + broker-final merge,
README.md:22).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def distinctcount(col: Column) -> Column:
    """DISTINCTCOUNT(col) exact (B19)."""
    return F.countDistinct(col)


def distinctcounthll(col: Column, rsd: float = 0.05) -> Column:
    """DISTINCTCOUNTHLL(col) approximate via HyperLogLog++ (B20)."""
    return F.approx_count_distinct(col, rsd)


def percentile_approx(col: Column, p: float, accuracy: int = 10_000) -> Column:
    """PERCENTILEEST / PERCENTILETDIGEST / PERCENTILEKLL analog (B22)."""
    return F.percentile_approx(col, F.lit(p / 100.0), F.lit(accuracy))


def mode(col: Column) -> Column:
    """MODE(col) most frequent value (B24)."""
    return F.mode(col)


def arg_min(value: Column, by: Column) -> Column:
    """ARG_MIN (B27)."""
    return F.min_by(value, by)


def arg_max(value: Column, by: Column) -> Column:
    """ARG_MAX (B27)."""
    return F.max_by(value, by)
