"""Pinot 1.2 function surface, Spark-first (SURVEY §2.B B49-B56).

Three layers:

- ``sqlfns`` — Pinot-named scalar functions registered as Spark SQL UDFs
  (``CREATE TEMPORARY FUNCTION ... RETURN <builtin expr>``).  These are
  macro-expanded by Catalyst into built-in expressions, so they stay inside
  whole-stage codegen: zero Python in the hot path, identical plans to
  hand-written builtins.  This is the engine's ``/query/sql`` parity layer.
  Each is registered on a session the first time a statement or expression
  there names it (``sqlfns.register_calls``): ``Engine.query`` registers the
  calls of every statement it is given, and of the text its own rewrites
  emit; ingest registers those of its transform and filter expressions; the
  query registry those of each builder's SQL.  Nothing is registered up
  front, so a session pays only for the functions it calls.
- ``helpers`` — Python Column builders for functions whose *arguments* are
  plan-time literals that need parsing (DATETIMECONVERT format specs) and
  the exact money sum.  These also compile to pure builtins.
- ``aggsql`` — the SQL-text rewrites of the Pinot aggregation functions
  (DISTINCTCOUNTHLL, PERCENTILETDIGEST, ARG_MIN, ...), their single
  definition; ``sqltext`` is the lexer under them and the engine's own
  SQL forms.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import helpers, sqlfns  # noqa: F401


def register_all(spark: SparkSession) -> None:
    """Register every Pinot-named SQL function on this session (callers
    that run statements outside the engine and the registry)."""
    sqlfns.register_all(spark)
