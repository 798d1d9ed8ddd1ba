"""Correctness checks: DuckDB answers and an order-insensitive, dtype-strict
comparison against broker envelopes and operator results.

Both sides are reduced to the broker's wire encoding before comparing:
Pinot column type names (``LONG``, ``DOUBLE``, ``TIMESTAMP`` ...) and cell
values as ``Engine.query_broker_response`` serializes them (dates and
timestamps as epoch millis, decimals as strings, arrays as lists).  A type
mismatch is a failure even when the values agree.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from pathlib import Path

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

_DUCK_TYPES = {
    "BIGINT": "LONG", "INTEGER": "INT", "SMALLINT": "INT", "TINYINT": "INT",
    "DOUBLE": "DOUBLE", "FLOAT": "FLOAT", "VARCHAR": "STRING",
    "BOOLEAN": "BOOLEAN", "DATE": "TIMESTAMP", "TIMESTAMP": "TIMESTAMP",
    "BLOB": "BYTES",
}

# Relative tolerance for approximate aggregates (HyperLogLog distinct counts).
APPROX_REL_TOL = 0.05
# Doubles computed by two engines may differ in the last bits.
FLOAT_REL_TOL = 1e-9
FLOAT_ABS_TOL = 1e-6


def duck_connection(data_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _pinot_type(duck_type: str) -> str:
    if duck_type.endswith("[]"):
        return _pinot_type(duck_type[:-2]) + "_ARRAY"
    if duck_type.startswith("DECIMAL"):
        return "BIG_DECIMAL"
    return _DUCK_TYPES.get(duck_type, duck_type)


def _wire(v):
    """A DuckDB cell encoded the way the broker encodes it."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return int(v.timestamp() * 1000)
    if isinstance(v, dt.date):
        return int(dt.datetime(v.year, v.month, v.day, tzinfo=dt.timezone.utc).timestamp() * 1000)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return [_wire(x) for x in v]
    return v


def duck_answer(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    """DuckDB's answer in the broker's ``resultTable`` shape."""
    rel = con.sql(sql)
    return {
        "columnNames": list(rel.columns),
        "columnDataTypes": [_pinot_type(str(t)) for t in rel.types],
        "rows": [[_wire(v) for v in row] for row in rel.fetchall()],
    }


def _sort_key(v):
    if isinstance(v, float):
        return (1, round(v, 4))
    if isinstance(v, bool):
        return (0, int(v))
    if isinstance(v, int):
        return (1, v)
    if isinstance(v, list):
        return (2, tuple(_sort_key(x) for x in v))
    if v is None:
        return (-1, 0)
    return (3, str(v))


def _cell_equal(a, b, approx: bool) -> bool:
    if type(a) is not type(b):
        return False
    if isinstance(a, list):
        return len(a) == len(b) and all(_cell_equal(x, y, approx) for x, y in zip(a, b))
    if approx and isinstance(a, (int, float)):
        return math.isclose(a, b, rel_tol=APPROX_REL_TOL)
    if isinstance(a, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=FLOAT_REL_TOL, abs_tol=FLOAT_ABS_TOL)
    return a == b


def compare(got: dict, want: dict, approx_cols: tuple[str, ...] = ()) -> str | None:
    """Compare two ``resultTable``-shaped answers; None when they agree, else
    the first difference.  Rows are compared as multisets."""
    if got["columnNames"] != want["columnNames"]:
        return f"columns {got['columnNames']} != {want['columnNames']}"
    if got["columnDataTypes"] != want["columnDataTypes"]:
        return f"types {got['columnDataTypes']} != {want['columnDataTypes']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"row count {len(got['rows'])} != {len(want['rows'])}"
    approx = [c in approx_cols for c in got["columnNames"]]
    # approximate columns take no part in the row order
    key = lambda row: tuple(_sort_key(v) for v, a in zip(row, approx) if not a)  # noqa: E731
    for i, (g, w) in enumerate(zip(sorted(got["rows"], key=key), sorted(want["rows"], key=key))):
        for col, x, y, a in zip(got["columnNames"], g, w, approx):
            if not _cell_equal(x, y, a):
                return f"row {i} column {col}: {x!r} != {y!r}"
    return None


def result_table(envelope: dict) -> dict | None:
    """The comparable part of a broker envelope, or None for an error
    envelope."""
    if envelope.get("exceptions") or "resultTable" not in envelope:
        return None
    rt = envelope["resultTable"]
    return {
        "columnNames": rt["dataSchema"]["columnNames"],
        "columnDataTypes": rt["dataSchema"]["columnDataTypes"],
        "rows": rt["rows"],
    }
