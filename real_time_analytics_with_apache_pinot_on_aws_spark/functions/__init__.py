"""Pinot 1.2 function surface, Spark-first (SURVEY §2.B B49-B56).

Two layers:

- ``sqlfns.register_all(spark)`` — Pinot-named scalar functions registered as
  Spark SQL UDFs (``CREATE TEMPORARY FUNCTION ... RETURN <builtin expr>``).
  These are macro-expanded by Catalyst into built-in expressions, so they stay
  inside whole-stage codegen: zero Python in the hot path, identical plans to
  hand-written builtins.  This is the engine's ``/query/sql`` parity layer.
- ``helpers`` — Python Column builders for functions whose *arguments* are
  plan-time literals that need parsing (DATETIMECONVERT format specs,
  JSON_MATCH predicates).  These also compile to pure builtins.
- ``aggs`` — Pinot aggregation-function names as Column aggregate builders
  (DISTINCTCOUNTHLL, PERCENTILETDIGEST, ARG_MIN, ...).  The SQL-text
  rewrites in ``aggsql`` are the single definition of the rest.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import aggs, helpers, sqlfns  # noqa: F401


def register_all(spark: SparkSession) -> None:
    """Register every Pinot-named SQL function on this session."""
    sqlfns.register_all(spark)
