"""Pinot built-in virtual columns **[P1.2]** — ``$docId``, ``$segmentName``,
``$hostName`` served on every engine table without schema declaration.

The Spark mapping is exact, not simulated: a sealed parquet file IS the
segment, so ``_metadata.row_index`` is the position-within-segment and
``_metadata.file_name`` the segment identity (streaming/ingest.py:
augment_virtual_columns).  Reference anchor: the Pinot 1.2.0 engine the
stack deploys (SURVEY §0); no virtual-column query appears in the
reference's own Lambdas — this is engine-surface parity.
"""

from __future__ import annotations

import json
import socket
from pathlib import Path

import pytest

from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine
from real_time_analytics_with_apache_pinot_on_aws_spark.streaming import RawRecordSource
from tests.test_schema import CLICKSTREAM_SCHEMA
from tests.test_streaming_engine import TABLE_CONFIG, _write_events


def _engine_with_data(spark, tmp_path, n: int = 40) -> Engine:
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "batch1.json", n, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipeline = engine.add_table(
        CLICKSTREAM_SCHEMA,
        TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)),
        available_now=True,
    )
    pipeline.process_available()
    engine.register_view("kinesisTable")
    return engine


def test_virtual_columns_identify_physical_rows(spark, tmp_path):
    """$docId is dense from 0 within each segment, $segmentName names the
    parquet file (extension stripped), $hostName is this process's host —
    and plain SQL through Engine.query serves all three."""
    engine = _engine_with_data(spark, tmp_path, n=40)
    rows = engine.query(
        "SELECT $docId, $segmentName, $hostName, userID "
        "FROM kinesisTable"
    ).collect()
    assert len(rows) == 40
    assert all(r["$hostName"] == socket.gethostname() for r in rows)
    by_segment: dict[str, list[int]] = {}
    for r in rows:
        assert r["$segmentName"] and not r["$segmentName"].endswith(".parquet")
        by_segment.setdefault(r["$segmentName"], []).append(r["$docId"])
    for seg, ids in by_segment.items():
        assert sorted(ids) == list(range(len(ids))), seg
    # a comment between FROM and the table name hides no reference
    assert len(engine.query(
        "SELECT $docId, userID FROM /* c */ kinesisTable"
    ).collect()) == 40


def test_virtual_column_predicate_and_aggregate(spark, tmp_path):
    """WHERE on $docId filters physically (first row of every segment) and
    $segmentName groups like any dimension — Pinot's per-segment row-count
    diagnostic ``SELECT $segmentName, count(*) ... GROUP BY $segmentName``."""
    engine = _engine_with_data(spark, tmp_path, n=30)
    firsts = engine.query(
        "SELECT $segmentName, userID FROM kinesisTable WHERE $docId = 0"
    ).collect()
    seg_counts = engine.query(
        "SELECT $segmentName, count(*) AS n FROM kinesisTable "
        "GROUP BY $segmentName"
    ).collect()
    # one docId=0 row per segment, and the per-segment counts total the table
    assert len(firsts) == len(seg_counts)
    assert sum(r["n"] for r in seg_counts) == 30


def test_virtual_columns_on_upsert_table_ride_winning_row(spark, tmp_path):
    """On an upsert table the resolved view serves the WINNING physical
    row's segment identity (Pinot: virtual columns are per-segment facts,
    upsert resolution picks a physical row)."""
    src_dir = tmp_path / "stream_in"
    src_dir.mkdir(parents=True)
    engine = Engine(spark, str(tmp_path / "warehouse"))
    cfg = {
        "tableName": "ups",
        "tableType": "REALTIME",
        "segmentsConfig": {"timeColumnName": "creationTimestamp"},
        "upsertConfig": {"mode": "FULL"},
        "routing": {"instanceSelectorType": "strictReplicaGroup"},
    }
    schema = json.loads(json.dumps(CLICKSTREAM_SCHEMA))
    schema["schemaName"] = "ups"
    schema["primaryKeyColumns"] = ["userID"]
    pipeline = engine.add_table(
        schema, cfg, RawRecordSource(kind="files", path=str(src_dir)),
        available_now=True,
    )
    # two batches -> two files; key '7' appears in both, later version wins
    _write_events(src_dir / "b1.json", 20, "2024-06-01")
    pipeline.process_available()
    _write_events(src_dir / "b2.json", 20, "2024-06-02")
    pipeline.process_available()
    engine.register_view("ups")
    rows = engine.query(
        "SELECT userID, $segmentName, $docId FROM ups WHERE userID = '7'"
    ).collect()
    assert len(rows) == 1  # resolved view: one row per key
    assert rows[0]["$segmentName"] is not None and rows[0]["$docId"] >= 0
    # resolved view stays one-row-per-key with virtuals riding along
    n = engine.query("SELECT count(*) AS n FROM ups").collect()[0]["n"]
    assert n == 20  # 20 distinct keys


def test_select_star_with_virtual_rejected_and_unknown_table_rejected(
    spark, tmp_path
):
    engine = _engine_with_data(spark, tmp_path, n=10)
    with pytest.raises(ValueError, match="SELECT \\*"):
        engine.query("SELECT *, $docId FROM kinesisTable")
    with pytest.raises(ValueError, match="SELECT \\*"):
        engine.query("SELECT t.*, $docId FROM kinesisTable t")
    spark.range(3).createOrReplaceTempView("plainview")
    with pytest.raises(ValueError, match="engine tables"):
        engine.query("SELECT $docId FROM plainview")


def test_comment_does_not_hide_select_star(spark, tmp_path):
    """The select items are cut by the lexer, so a comment before the
    ``*`` does not hide it: the statement is rejected like ``SELECT *,
    $docId``, not expanded over the virtual columns."""
    engine = _engine_with_data(spark, tmp_path, n=3)
    for hidden in (
        "SELECT /* c */ *, $docId FROM kinesisTable",
        "SELECT $docId, -- c\n * FROM kinesisTable",
        "SELECT DISTINCT /* c */ *, $docId FROM kinesisTable",
    ):
        with pytest.raises(ValueError, match="SELECT \\*"):
            engine.query(hidden)


def test_virtual_columns_leave_literals_and_quoted_names_alone(spark, tmp_path):
    """Only the ``$x`` tokens in code are virtual columns: a string literal
    keeps its text, an already backticked name is not quoted twice, and a
    ``*`` inside a literal is not a star projection."""
    engine = _engine_with_data(spark, tmp_path, n=3)
    row = engine.query(
        "SELECT $docId AS d, 'cost $docId' AS s, `$docId` AS e "
        "FROM kinesisTable LIMIT 1"
    ).collect()[0]
    assert row["s"] == "cost $docId" and row["e"] == row["d"]
    row = engine.query(
        "SELECT $docId AS d, 'a, *' AS s FROM kinesisTable LIMIT 1"
    ).collect()[0]
    assert row["s"] == "a, *"


def test_virtual_columns_through_broker_envelope(spark, tmp_path):
    """The broker surface serves virtual-column SQL like any other — and
    concurrent-safe by construction (unique per-query view names)."""
    engine = _engine_with_data(spark, tmp_path, n=12)
    resp = engine.query_broker_response(
        "SELECT $segmentName, count(*) AS n FROM kinesisTable "
        "GROUP BY $segmentName ORDER BY n DESC"
    )
    assert resp["exceptions"] == []
    assert resp["resultTable"]["dataSchema"]["columnNames"][0] == "$segmentName"
    assert sum(r[1] for r in resp["resultTable"]["rows"]) == 12
    # the per-query views were dropped
    leftover = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("__virt_")
    ]
    assert leftover == []
