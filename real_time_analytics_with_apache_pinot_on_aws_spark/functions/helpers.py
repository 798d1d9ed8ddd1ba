"""Column builders for Pinot functions whose arguments are plan-time specs.

These parse the Pinot-style literal arguments (format specs) in
Python at plan-build time and emit pure built-in Catalyst expressions — the
executed plan contains no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# DATETIMECONVERT(col, inputFormat, outputFormat, granularity)  [B51]
# Format spec: "<size>:<unit>:<tsFormat>[:pattern]" e.g.
#   "1:MILLISECONDS:EPOCH", "1:DAYS:SIMPLE_DATE_FORMAT:yyyy-MM-dd"
# Granularity: "<size>:<unit>" bucketing, e.g. "15:MINUTES".
# ---------------------------------------------------------------------------

_UNIT_MILLIS = {
    "MILLISECONDS": 1,
    "SECONDS": 1_000,
    "MINUTES": 60_000,
    "HOURS": 3_600_000,
    "DAYS": 86_400_000,
}


def _parse_format(fmt: str) -> tuple[int, str, str, str | None]:
    parts = fmt.split(":", 3)
    if len(parts) < 3:
        raise ValueError(f"bad Pinot dateTime format spec: {fmt!r}")
    size, unit, kind = int(parts[0]), parts[1].upper(), parts[2].upper()
    pattern = parts[3] if len(parts) > 3 else None
    return size, unit, kind, pattern


def _to_millis(col: Column, fmt: str) -> Column:
    """Input column (per its format spec) -> epoch millis (long)."""
    size, unit, kind, pattern = _parse_format(fmt)
    if kind == "SIMPLE_DATE_FORMAT":
        return F.unix_millis(F.to_timestamp(col, pattern))
    if kind == "EPOCH":
        return (col.cast("long") * F.lit(size * _UNIT_MILLIS[unit])).cast("long")
    if kind == "TIMESTAMP":
        return F.unix_millis(col.cast("timestamp"))
    raise ValueError(f"unsupported input format kind {kind!r}")


def _granularity_millis(granularity: str) -> int:
    size, _, unit = granularity.partition(":")
    return int(size) * _UNIT_MILLIS[unit.upper()]


def datetimeconvert(col: Column, input_format: str, output_format: str, granularity: str) -> Column:
    """Pinot DATETIMECONVERT: parse -> truncate to granularity -> format.

    Composition of unix_millis/to_timestamp/date_format builtins (SURVEY B51).
    """
    millis = _to_millis(col, input_format)
    bucket = _granularity_millis(granularity)
    truncated = (F.floor(millis / F.lit(bucket)) * F.lit(bucket)).cast("long")
    size, unit, kind, pattern = _parse_format(output_format)
    if kind == "EPOCH":
        return (truncated / F.lit(size * _UNIT_MILLIS[unit])).cast("long")
    if kind == "SIMPLE_DATE_FORMAT":
        return F.date_format(F.timestamp_millis(truncated), pattern)
    if kind == "TIMESTAMP":
        return F.timestamp_millis(truncated)
    raise ValueError(f"unsupported output format kind {kind!r}")


# ---------------------------------------------------------------------------
# Deterministic money arithmetic for oracle-exact aggregation.
# Summing doubles is order-dependent; casting to DECIMAL(18,2) first makes the
# sum exact, then casting the total back to DOUBLE is bit-deterministic on both
# Spark and DuckDB (SURVEY §5 "float drift").
# ---------------------------------------------------------------------------


def money_sum(col: Column, scale: int = 2) -> Column:
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")
