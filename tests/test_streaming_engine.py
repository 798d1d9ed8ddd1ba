"""End-to-end ingestion tests: the reference's event->queryable-row path
(SURVEY §3 entry 2) on a file-based stream source with KDG-shaped JSON."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine, TableConfig
from real_time_analytics_with_apache_pinot_on_aws_spark.streaming import RawRecordSource
from tests.test_schema import CLICKSTREAM_SCHEMA

TABLE_CONFIG = {
    "tableName": "kinesisTable",
    "tableType": "REALTIME",
    "segmentsConfig": {
        "timeColumnName": "creationTimestamp",
        "retentionTimeUnit": "DAYS",
        "retentionTimeValue": "7",
    },
    "tableIndexConfig": {
        "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
    },
}


def _write_events(path: Path, n: int, day: str, start: int = 0) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as fh:
        for i in range(start, start + n):
            fh.write(
                json.dumps(
                    {
                        "userID": str(i % 100),
                        "campaign": ["BlackFriday", "10Percent", "NONE"][i % 3],
                        "price": 10 + (i % 140),
                        "creationTimestamp": f"{day} 10:{i % 60:02d}:00",
                    }
                )
                + "\n"
            )


def test_table_config_parse():
    cfg = TableConfig.parse(TABLE_CONFIG)
    assert cfg.name == "kinesisTable"
    assert cfg.time_column == "creationTimestamp"
    assert cfg.retention_days == 7
    assert cfg.flush_threshold_seconds == 120


def test_ingest_end_to_end(spark, tmp_path):
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "batch1.json", 60, "2024-06-01")

    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipeline = engine.add_table(
        CLICKSTREAM_SCHEMA,
        TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)),
        available_now=True,
    )
    pipeline.process_available()

    # consuming-segment analog: rows queryable right after commit (B57)
    table = pipeline.table()
    assert table.count() == 60
    assert "creationTimestamp__ts" in table.columns
    assert "ingest_date" in table.columns

    # typed aggregation over the ingested data through the SQL surface (B2)
    engine.register_view("kinesisTable")
    agg = engine.query(
        "SELECT campaign, count(*) AS n, sum(price) AS rev "
        "FROM kinesisTable GROUP BY campaign"
    ).collect()
    assert sum(r["n"] for r in agg) == 60
    assert all(r["rev"] > 0 for r in agg)

    # second micro-batch: counts grow, earlier rows unchanged (A4/A5 cadence)
    _write_events(src_dir / "batch2.json", 40, "2024-06-02", start=1000)
    pipeline.process_available()
    assert pipeline.table().count() == 100

    # exactly-once: reprocessing the same files must not duplicate (B61)
    pipeline.process_available()
    assert pipeline.table().count() == 100

    # day partitioning on disk (segment time metadata analog)
    detail = engine.table_detail("kinesisTable")
    assert detail["partitions"] == ["ingest_date=2024-06-01", "ingest_date=2024-06-02"]
    assert engine.list_tables() == ["kinesisTable"]
    assert engine.rebalance("kinesisTable")["status"] == "NO_OP"

    # broker-response JSON envelope (B4: what the Pinot JDBC driver consumes)
    engine.register_view("kinesisTable")  # refresh the file listing post-batch2
    resp = engine.query_broker_response(
        "SELECT campaign, count(*) AS n FROM kinesisTable GROUP BY campaign ORDER BY campaign"
    )
    schema_ = resp["resultTable"]["dataSchema"]
    assert schema_["columnNames"] == ["campaign", "n"]
    assert schema_["columnDataTypes"] == ["STRING", "LONG"]
    assert resp["numRowsResultSet"] == len(resp["resultTable"]["rows"]) == 3
    assert sum(r[1] for r in resp["resultTable"]["rows"]) == 100
    assert resp["exceptions"] == [] and resp["timeUsedMs"] >= 0

    pipeline.stop()


def test_retention_partition_drop(spark, tmp_path):
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "old.json", 10, "2024-01-01")
    _write_events(src_dir / "new.json", 10, "2024-01-20", start=500)

    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipeline = engine.add_table(
        CLICKSTREAM_SCHEMA,
        TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)),
        available_now=True,
    )
    pipeline.process_available()
    assert pipeline.table().count() == 20

    dropped = engine.run_retention("kinesisTable")  # 7 days from max(2024-01-20)
    assert dropped == ["2024-01-01"]
    assert pipeline.table().count() == 10
    pipeline.stop()


def _committed(table_path: str) -> tuple[list[str], list[str]]:
    """(parquet files, _SUCCESS markers) under a table, relative paths."""
    root = Path(table_path)
    parquet = sorted(str(p.relative_to(root)) for p in root.rglob("*.parquet"))
    markers = sorted(str(p.relative_to(root)) for p in root.rglob("_SUCCESS"))
    return parquet, markers


def _drain_once(spark, tmp_path, files: dict[str, tuple[int, str]], config=None):
    """Write ``files`` ({name: (rows, day)}) before the pipeline starts, so
    one availableNow micro-batch commits them all; return the pipeline."""
    src_dir = tmp_path / "stream_in"
    start = 0
    for name, (n, day) in files.items():
        _write_events(src_dir / name, n, day, start=start)
        start += n
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, config or TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    return pipe


def test_batch_commits_one_file_per_day_and_no_marker(spark, tmp_path):
    """A micro-batch of four input files seals ONE parquet file (one write
    task per day, not one per input file) and writes no _SUCCESS marker."""
    pipe = _drain_once(spark, tmp_path, {
        f"b{k}.json": (50, "2024-06-01") for k in range(4)
    })
    parquet, markers = _committed(pipe.table_path)
    assert len(parquet) == 1 and parquet[0].startswith("ingest_date=2024-06-01/")
    assert markers == []
    assert pipe.table().count() == 200
    pipe.stop()


def test_batch_spanning_two_days_commits_one_file_per_day(spark, tmp_path):
    pipe = _drain_once(spark, tmp_path, {
        "a.json": (30, "2024-06-01"), "b.json": (30, "2024-06-02"),
        "c.json": (30, "2024-06-01"), "d.json": (30, "2024-06-02"),
    })
    parquet, markers = _committed(pipe.table_path)
    assert [p.split("/")[0] for p in parquet] == [
        "ingest_date=2024-06-01", "ingest_date=2024-06-02",
    ]
    assert markers == []
    assert {r["count"] for r in pipe.table().groupBy("ingest_date").count().collect()} == {60}
    pipe.stop()


def test_large_batch_is_split_across_write_tasks(spark, tmp_path):
    """The day rebalance never funnels a batch into one task: a batch larger
    than the advisory partition size is split across several writers (here
    the size is made tiny instead of the batch huge)."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        pipe = _drain_once(spark, tmp_path, {
            f"b{k}.json": (500, "2024-06-01") for k in range(4)
        })
    finally:
        spark.conf.set(key, old)
    parquet, _ = _committed(pipe.table_path)
    assert len(parquet) > 1
    assert pipe.table().count() == 2000
    pipe.stop()


def test_build_session_checkpoints_through_filesystem(spark):
    """The session (built by ``build_session``) writes streaming checkpoints
    through Hadoop FileSystem, which forks no ``readlink`` per rename on a
    local FS; restart from such a checkpoint is covered by
    test_pause_resume_consumption_exactly_once."""
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def _stage_input_records(spark) -> dict[tuple[int, int], int]:
    """``inputRecords`` of every stage attempt in the status store, once the
    listener bus has delivered every event."""
    sc, gw = spark.sparkContext._jsc.sc(), spark.sparkContext._gateway
    sc.listenerBus().waitUntilEmpty()
    it = sc.statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), None
    ).iterator()
    out = {}
    while it.hasNext():
        s = it.next()
        out[(s.stageId(), s.attemptId())] = s.inputRecords()
    return out


def test_star_tree_batch_reads_its_source_once(spark, tmp_path):
    """A star-tree table reads each micro-batch twice (raw write, then the
    cells), so the commit caches the batch: the source is read and decoded
    once per row.  A cached re-read counts one input record per cached
    column batch, not per row, hence the small allowance."""
    config = dict(TABLE_CONFIG)
    config["tableIndexConfig"] = {
        "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        "starTreeIndexConfigs": [{
            "dimensionsSplitOrder": ["campaign", "ingest_date"],
            "functionColumnPairs": ["SUM__price"],
        }],
    }
    before = _stage_input_records(spark)
    pipe = _drain_once(spark, tmp_path, {
        f"b{k}.json": (250, "2024-06-01") for k in range(4)
    }, config)
    read = sum(
        v for k, v in _stage_input_records(spark).items() if k not in before
    )
    assert 1000 <= read < 1100
    assert pipe.table().count() == 1000
    assert pipe.rollup_table().agg({"sum__price": "sum"}).collect()[0][0] == (
        pipe.table().agg({"price": "sum"}).collect()[0][0]
    )
    pipe.stop()


def test_ingest_with_rollup_and_partition_pruning(spark, tmp_path):
    """Streaming ingest maintains the star-tree rollup per micro-batch; the
    rollup served result equals direct aggregation over the raw table, and a
    day filter on the raw table prunes partitions (Pinot's segment pruning,
    SURVEY §4)."""
    from pyspark.sql import functions as F

    from real_time_analytics_with_apache_pinot_on_aws_spark.plans import audit_plan
    from real_time_analytics_with_apache_pinot_on_aws_spark.schema import parse_schema
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming import rollup as R
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.ingest import IngestPipeline

    src_dir = tmp_path / "stream_in"
    spec = R.RollupSpec(
        dims=("campaign", "ingest_date"),
        metrics={"n": ("count", "userID"), "total_price": ("sum", "price")},
    )
    pipe = IngestPipeline(
        spark,
        parse_schema(CLICKSTREAM_SCHEMA),
        table_path=str(tmp_path / "table"),
        checkpoint_path=str(tmp_path / "ckpt"),
        source=RawRecordSource(kind="files", path=str(src_dir)),
        rollup_spec=spec,
        rollup_path=str(tmp_path / "rollup"),
    )
    # two micro-batches on different days -> two partitions, two partial runs
    _write_events(src_dir / "b1.json", 30, "2024-05-01")
    pipe.process_available()
    _write_events(src_dir / "b2.json", 20, "2024-05-02", start=500)
    pipe.process_available()

    raw = pipe.table()
    served = R.serve(pipe.rollup_table(), spec, ["campaign", "ingest_date"])
    direct = raw.groupBy("campaign", "ingest_date").agg(
        F.count("userID").alias("n"), F.sum("price").alias("total_price")
    )
    key = lambda r: (str(r[0]), str(r[1]))
    assert sorted(map(tuple, served.collect()), key=key) == sorted(
        map(tuple, direct.collect()), key=key
    )
    assert served.count() < raw.count()  # cells, not events

    # serving a coarser dim subset re-merges the same cells
    by_campaign = {r["campaign"]: r["n"] for r in R.serve(pipe.rollup_table(), spec, ["campaign"]).collect()}
    assert sum(by_campaign.values()) == 50

    # Pinot-style segment pruning: day filter must reach PartitionFilters
    f = audit_plan(raw.filter(F.col("ingest_date") == "2024-05-01"))
    assert f.partition_filters
    pipe.stop()


def test_upsert_table_resolved_view(spark, tmp_path):
    """A table with upsertConfig serves the RESOLVED view over SQL (latest row
    per primary key), with the raw append-only log at <name>_raw — Pinot's
    query-time upsert resolution (B62)."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    src_dir.parent.mkdir(parents=True, exist_ok=True)
    config = dict(TABLE_CONFIG)
    config["tableName"] = "userState"
    config["upsertConfig"] = {"mode": "FULL"}
    schema = dict(CLICKSTREAM_SCHEMA)
    schema["primaryKeyColumns"] = ["userID"]

    engine = Engine(spark, str(tmp_path / "warehouse"))

    def put(name, rows):
        src_dir.mkdir(parents=True, exist_ok=True)
        (src_dir / name).write_text("\n".join(_json.dumps(r) for r in rows))

    def row(uid, price, t):
        return {"userID": uid, "campaign": "c", "price": price,
                "creationTimestamp": f"2024-06-01 {t}"}

    put("b1.json", [row("u1", 10, "10:00:00"), row("u2", 20, "10:00:01")])
    pipe = engine.add_table(schema, config, RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    # u1 gets two updates in a later batch; latest (10:05) must win
    put("b2.json", [row("u1", 11, "10:04:00"), row("u1", 12, "10:05:00")])
    pipe.process_available()

    engine.register_view("userState")
    resolved = {r["userID"]: r["price"] for r in engine.query(
        "SELECT userID, price FROM userState").collect()}
    assert resolved == {"u1": 12, "u2": 20}
    assert engine.query("SELECT count(*) AS n FROM userState_raw").collect()[0]["n"] == 4

    # ADVICE regression: two versions of a key with the SAME timestamp must
    # resolve deterministically to the later-INGESTED one (arrival-order
    # tiebreaker __ingest_epoch/__ingest_seq, Pinot's upsert rule)
    put("b3.json", [row("u3", 30, "11:00:00")])
    pipe.process_available()
    put("b4.json", [row("u3", 31, "11:00:00")])  # same ts, later batch
    pipe.process_available()
    engine.register_view("userState")
    resolved = {r["userID"]: r["price"] for r in engine.query(
        "SELECT userID, price FROM userState").collect()}
    assert resolved["u3"] == 31
    pipe.stop()


def test_skip_upsert_option_and_table_type_suffix(spark, tmp_path):
    """Pinot parity **[P1.2]**: ``SET skipUpsert=true`` serves the RAW
    append-only log (every row version, no pk resolution), and the
    table-type suffix ``<name>_REALTIME`` binds on a pure realtime table —
    to the RESOLVED view (suffixing never bypasses resolution; only
    skipUpsert does)."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "skipDemo"
    config["upsertConfig"] = {"mode": "FULL"}
    schema = dict(CLICKSTREAM_SCHEMA)
    schema["primaryKeyColumns"] = ["userID"]
    engine = Engine(spark, str(tmp_path / "warehouse"))

    def row(uid, price, t):
        return {"userID": uid, "campaign": "c", "price": price,
                "creationTimestamp": f"2024-06-01 {t}"}

    src_dir.mkdir(parents=True, exist_ok=True)
    (src_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        row("u1", 10, "10:00:00"), row("u1", 12, "10:05:00"),
        row("u2", 20, "10:00:01"),
    ]))
    pipe = engine.add_table(schema, config, RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    engine.register_view("skipDemo")

    # resolved view: 2 rows; skipUpsert: all 3 versions
    assert engine.query("SELECT count(*) AS n FROM skipDemo").collect()[0]["n"] == 2
    assert engine.query(
        "SET skipUpsert=true; SELECT count(*) AS n FROM skipDemo"
    ).collect()[0]["n"] == 3
    # legacy OPTION() suffix spelling must behave identically
    assert engine.query(
        "SELECT count(*) AS n FROM skipDemo OPTION(skipUpsert=true)"
    ).collect()[0]["n"] == 3
    # skipUpsert shows superseded values the resolved view hides
    prices = sorted(r["price"] for r in engine.query(
        "SET skipUpsert=true; SELECT price FROM skipDemo WHERE userID = 'u1'"
    ).collect())
    assert prices == [10, 12]
    # a literal containing 'FROM skipDemo' is data, not a reference
    lit = engine.query(
        "SET skipUpsert=true; SELECT 'FROM skipDemo' AS s, count(*) AS n FROM skipDemo"
    ).collect()[0]
    assert lit["s"] == "FROM skipDemo" and lit["n"] == 3
    # a quote inside a comment does not hide the FROM after it
    assert engine.query(
        "SET skipUpsert=true; SELECT count(*) AS n -- it's raw\nFROM skipDemo"
    ).collect()[0]["n"] == 3
    # comments before the statement and between FROM/JOIN and the name
    for q in (
        "/* audit */ SELECT count(*) AS n FROM skipDemo",
        "SELECT count(*) AS n FROM /* c */ skipDemo",
        "SELECT count(*) AS n FROM\n-- c\nskipDemo",
    ):
        assert engine.query(f"SET skipUpsert=true; {q}").collect()[0]["n"] == 3, q
    assert engine.query(
        "SET skipUpsert=true; SELECT count(*) AS n FROM skipDemo a "
        "JOIN /* c */ skipDemo b ON a.userID = b.userID"
    ).collect()[0]["n"] == 5
    assert len(engine.query(
        "SELECT $docId, userID FROM /* c */ skipDemo"
    ).collect()) == 2

    # Pinot-cased suffix addressing binds — and to the RESOLVED view
    assert engine.query(
        "SELECT count(*) AS n FROM skipDemo_REALTIME"
    ).collect()[0]["n"] == 2
    pipe.stop()


def test_table_type_suffix_offline_and_dim(spark, tmp_path):
    """``<name>_OFFLINE`` binds on pure offline tables and dimension tables
    (Pinot addresses both as OFFLINE) **[P1.2]**."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    dim = spark.createDataFrame(
        [("c1", "Search"), ("c2", "Social")], "campaign string, channel string"
    )
    engine.add_dim_table(
        {"schemaName": "campaignMeta",
         "dimensionFieldSpecs": [{"name": "campaign", "dataType": "STRING"},
                                 {"name": "channel", "dataType": "STRING"}],
         "primaryKeyColumns": ["campaign"]},
        {"tableName": "campaignMeta", "tableType": "OFFLINE", "isDimTable": True},
        dim,
    )
    assert engine.query(
        "SELECT count(*) AS n FROM campaignMeta_OFFLINE"
    ).collect()[0]["n"] == 2

    engine.add_offline_table(CLICKSTREAM_SCHEMA, {
        "tableName": "clicksOff",
        "tableType": "OFFLINE",
        "segmentsConfig": {"timeColumnName": "creationTimestamp"},
    })
    engine.upload_segment("clicksOff", spark.createDataFrame(
        [("u1", "c1", 1.0, "2024-06-01 10:00:00")],
        "userID string, campaign string, price double, creationTimestamp string",
    ))
    engine.register_view("clicksOff")
    assert engine.query(
        "SELECT count(*) AS n FROM clicksOff_OFFLINE"
    ).collect()[0]["n"] == 1


def test_pause_resume_consumption_exactly_once(spark, tmp_path):
    """Pinot pause/resumeConsumption analog: pausing stops ingest but keeps
    the table queryable; resuming restarts from the checkpointed offset —
    data written during the pause lands exactly once, nothing re-ingests."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "pausable"
    _write_events(src_dir / "b1.json", 10, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, config, RawRecordSource(kind="files", path=str(src_dir)),
        available_now=True,
    )
    pipe.process_available()
    assert pipe.table().count() == 10

    assert engine.pause_consumption("pausable")["consumption"] == "PAUSED"
    # written while paused: queryable table unchanged, nothing ingested
    _write_events(src_dir / "b2.json", 10, "2024-06-01", start=10)
    assert pipe.table().count() == 10

    assert engine.resume_consumption("pausable", available_now=True)["consumption"] == "CONSUMING"
    pipe.process_available()
    t = pipe.table()
    assert t.count() == 20
    # exactly-once: no event id ingested twice across the pause/resume cycle
    assert t.select("userID").distinct().count() == 20
    # a second resume/drain re-offers nothing (checkpointed offsets)
    pipe.process_available()
    assert pipe.table().count() == 20
    pipe.stop()


def test_upsert_delete_record_column(spark, tmp_path):
    """upsertConfig.deleteRecordColumn (Pinot 1.2 soft deletes): a key whose
    latest ingested version sets the tombstone flag drops from the resolved
    view; the raw log keeps every version."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "delState"
    config["upsertConfig"] = {"mode": "FULL", "deleteRecordColumn": "deleted"}
    schema = _json.loads(_json.dumps(CLICKSTREAM_SCHEMA))
    schema["primaryKeyColumns"] = ["userID"]
    schema["dimensionFieldSpecs"] = list(schema["dimensionFieldSpecs"]) + [
        {"name": "deleted", "dataType": "BOOLEAN"}
    ]

    engine = Engine(spark, str(tmp_path / "warehouse"))

    def put(name, rows):
        src_dir.mkdir(parents=True, exist_ok=True)
        (src_dir / name).write_text("\n".join(_json.dumps(r) for r in rows))

    def row(uid, price, t, deleted=False):
        return {"userID": uid, "campaign": "c", "price": price, "deleted": deleted,
                "creationTimestamp": f"2024-06-01 {t}"}

    put("b1.json", [row("u1", 10, "10:00:00"), row("u2", 20, "10:00:01")])
    pipe = engine.add_table(schema, config, RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    # u1 tombstoned in a later batch; u2 updated normally
    put("b2.json", [row("u1", 0, "10:05:00", deleted=True), row("u2", 21, "10:05:01")])
    pipe.process_available()

    engine.register_view("delState")
    resolved = {r["userID"]: r["price"] for r in engine.query(
        "SELECT userID, price FROM delState").collect()}
    assert resolved == {"u2": 21}
    assert "deleted" not in engine.query("SELECT * FROM delState").columns
    assert engine.query("SELECT count(*) AS n FROM delState_raw").collect()[0]["n"] == 4
    pipe.stop()


def test_source_adapters_option_mapping(spark):
    """A1/A2/A13 adapters map reference stream config to connector options;
    file/rate kinds produce real streaming frames (kafka/kinesis need their
    connector jars — construction only, matching the reference's config-level
    role for those paths)."""
    from real_time_analytics_with_apache_pinot_on_aws_spark import sources as S

    kin = S.kinesis_source("pinot-stream", region="eu-west-1")
    assert kin.kind == "kinesis"
    assert kin.options["streamName"] == "pinot-stream"
    assert kin.options["startingPosition"] == "latest"  # LATEST iterator (json:18)
    assert S.kinesis_source("s", latest=False).options["startingPosition"] == "trim_horizon"

    kaf = S.kafka_source("broker:9092", "pinot-topic")
    assert kaf.options["subscribe"] == "pinot-topic"
    assert kaf.options["startingOffsets"] == "latest"

    rate = RawRecordSource(kind="rate", options={"rowsPerSecond": "5"}).load(spark)
    assert rate.isStreaming and rate.columns == ["value"]

    import pytest

    with pytest.raises(ValueError):
        RawRecordSource(kind="nope").load(spark)


def test_kafka_reader_resolution_without_broker(spark):
    """A1/A2 closure: building the format('kafka') reader with the mapped
    options must reach Spark's data-source RESOLUTION stage — i.e. the
    reader construction (format + option plumbing) is complete and the only
    missing piece is the connector jar, never a malformed option.  With the
    kafka connector on the classpath this same path loads a streaming frame
    (asserted when available)."""
    import pytest

    from real_time_analytics_with_apache_pinot_on_aws_spark import sources as S

    kaf = S.kafka_source("broker:9092", "pinot-topic", latest=False)
    assert kaf.options["startingOffsets"] == "earliest"
    try:
        df = kaf.load(spark)
    except Exception as e:  # noqa: BLE001 — asserting the exact failure class
        msg = str(e)
        # Spark's lookupDataSource error — proves we got to resolution with
        # format 'kafka' and valid options, not an adapter bug
        assert "Failed to find" in msg and "kafka" in msg.lower(), msg
        assert "deploy" in msg.lower() or "DATA_SOURCE" in msg, msg
    else:
        assert df.isStreaming and df.columns == ["value"]

    kin = S.kinesis_source("pinot-stream")
    try:
        df = kin.load(spark)
    except Exception as e:  # noqa: BLE001
        msg = str(e)
        assert "Failed to find" in msg and "kinesis" in msg.lower(), msg
    else:
        assert df.isStreaming and df.columns == ["value"]


def test_kafka_end_to_end_when_connector_present(spark, tmp_path):
    """A1/A2 end-to-end, gated on the connector jar (round-4 VERDICT item 5).

    Runs automatically wherever the classpath carries
    ``sources.KAFKA_CONNECTOR_COORDINATES`` (spark-sql-kafka-0-10); in the
    sandbox — no jars, no network — it skips with the exact coordinates in
    the reason, so the gate itself documents how to arm it.  When armed:
    the reader loads as a streaming frame without touching a broker (the
    connector defers connections to query start), proving option plumbing
    and schema end-to-end short of live IO.  Against a real broker, set
    KAFKA_BOOTSTRAP/KAFKA_TOPIC and the test drains one availableNow
    micro-batch through the full IngestPipeline."""
    import os

    import pytest

    from real_time_analytics_with_apache_pinot_on_aws_spark import sources as S

    if not S.kafka_connector_available(spark):
        pytest.skip(
            "kafka connector jar absent; arm with "
            f"spark.jars.packages={S.KAFKA_CONNECTOR_COORDINATES}"
        )
    df = S.kafka_source("localhost:9092", "pinot-topic").load(spark)
    assert df.isStreaming and df.columns == ["value"]

    bootstrap, topic = os.environ.get("KAFKA_BOOTSTRAP"), os.environ.get("KAFKA_TOPIC")
    if not bootstrap or not topic:
        return  # connector verified; live-broker leg needs KAFKA_BOOTSTRAP/KAFKA_TOPIC
    engine = Engine(spark, str(tmp_path / "warehouse"))
    config = dict(TABLE_CONFIG)
    config["tableName"] = "kafkaLive"
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA,
        config,
        S.kafka_source(bootstrap, topic, latest=False),
        available_now=True,
    )
    pipe.process_available()
    assert pipe.table().count() >= 0  # schema materialized from live records


def test_ingestion_transforms_filter_and_compaction(spark, tmp_path):
    """ingestionConfig parity: transformConfigs add/rewrite columns at ingest,
    filterConfig drops matching rows; compact() merges per-partition small
    files (minion MergeRollupTask analog) without changing results."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "transformed"
    config["ingestionConfig"] = {
        "transformConfigs": [
            {"columnName": "campaign_uc", "transformFunction": "upper(campaign)"},
            {"columnName": "price", "transformFunction": "price * 2"},
        ],
        "filterConfig": {"filterFunction": "price >= 200"},  # drop expensive rows
    }
    # prices 10..39 -> doubled 20..78; none dropped in batch 1
    _write_events(src_dir / "b1.json", 30, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, config, RawRecordSource(kind="files", path=str(src_dir)),
        available_now=True,
    )
    pipe.process_available()
    # batch 2: i 60..119 -> prices 70..129 doubled -> 140..258; >=200 dropped
    _write_events(src_dir / "b2.json", 60, "2024-06-01", start=60)
    pipe.process_available()

    t = pipe.table()
    assert "campaign_uc" in t.columns
    assert t.filter("campaign_uc <> upper(campaign)").count() == 0
    assert t.agg({"price": "max"}).collect()[0][0] < 200  # filter applied post-transform
    n_before = t.count()
    assert n_before < 90  # some rows dropped

    # two micro-batches -> >=2 files in the partition; compact to 1
    part = Path(pipe.table_path) / "ingest_date=2024-06-01"
    assert len(list(part.glob("*.parquet"))) >= 2, (n_before, sorted(p.name for p in part.glob("*")))
    result = engine.compact("transformed")
    assert result["compacted_partitions"]  # something was compacted
    assert len(list(part.glob("*.parquet"))) == 1
    assert pipe.table().count() == n_before  # data unchanged
    pipe.stop()


def test_compact_over_hadoop_file_scheme(spark, tmp_path):
    """compact()/table_detail() run entirely through the Hadoop FS API: an
    explicit file:// warehouse URI (the local stand-in for the s3a:// deep
    store) must work end-to-end — pathlib would choke on the scheme."""
    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "fsTable"
    _write_events(src_dir / "b1.json", 20, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, config, RawRecordSource(kind="files", path=str(src_dir)),
        available_now=True,
    )
    # rewrite the pipeline's table path to an explicit file:// URI so every
    # downstream fs op must go through Hadoop Path resolution
    pipe.process_available()
    _write_events(src_dir / "b2.json", 20, "2024-06-01", start=20)
    pipe.process_available()
    pipe.table_path = f"file://{pipe.table_path}"
    n_before = pipe.table().count()

    detail = engine.table_detail("fsTable")
    assert detail["partitions"] == ["ingest_date=2024-06-01"]
    assert detail["num_files"] >= 2 and detail["total_bytes"] > 0

    result = engine.compact("fsTable")
    assert result["compacted_partitions"] == {"ingest_date=2024-06-01": detail["num_files"]}
    assert engine.table_detail("fsTable")["num_files"] == 1
    assert pipe.table().count() == n_before
    pipe.stop()


def test_compact_refuses_while_stream_active(spark, tmp_path):
    """ADVICE regression: compacting under an active streaming query can
    duplicate a mid-snapshot micro-batch — must be refused."""
    import pytest

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "liveTable"
    _write_events(src_dir / "b1.json", 5, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, config, RawRecordSource(kind="files", path=str(src_dir)),
        start=True,  # continuous trigger -> stays active
    )
    try:
        assert pipe._query is not None and pipe._query.isActive
        with pytest.raises(RuntimeError, match="active streaming query"):
            engine.compact("liveTable")
    finally:
        pipe.stop()
    # once stopped, compact proceeds (nothing may need compacting — no error)
    engine.compact("liveTable")


def test_compact_aborts_without_data_loss_on_rename_failure(spark, tmp_path, monkeypatch):
    """ADVICE regression (round 3): Hadoop FileSystem signals rename/delete
    failure by RETURNING FALSE, not raising.  compact() must check the
    returns, install the compacted files BEFORE unlinking the originals, and
    abort with every original still present — a silent false return
    previously lost the partition (originals deleted, rename no-op)."""
    import pytest

    from real_time_analytics_with_apache_pinot_on_aws_spark import engine as engine_mod

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "renameFail"
    _write_events(src_dir / "b1.json", 10, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, config, RawRecordSource(kind="files", path=str(src_dir)),
        available_now=True,
    )
    pipe.process_available()
    _write_events(src_dir / "b2.json", 10, "2024-06-01", start=10)
    pipe.process_available()
    n_before = pipe.table().count()
    files_before = engine.table_detail("renameFail")["num_files"]
    assert files_before >= 2

    monkeypatch.setattr(engine_mod._fs, "rename", lambda spark, src, dst: False)
    with pytest.raises(RuntimeError, match="rename .* failed"):
        engine.compact("renameFail")
    # every original file still present, table fully readable
    assert engine.table_detail("renameFail")["num_files"] == files_before
    assert pipe.table().count() == n_before
    monkeypatch.undo()
    # with the failure gone, the retried compact completes normally
    assert engine.compact("renameFail")["compacted_partitions"]
    assert pipe.table().count() == n_before
    pipe.stop()


def test_broker_response_is_json_serializable(spark, tmp_path):
    """ADVICE regression (round 3): the /query/sql envelope must survive
    json.dumps — timestamps as epoch millis, DECIMAL as BIG_DECIMAL with
    exact string values, BYTES as hex, arrays element-wise (Pinot MV
    columnDataTypes are T_ARRAY)."""
    import json as _json

    engine = Engine(spark, str(tmp_path / "warehouse"))
    resp = engine.query_broker_response(
        "SELECT TIMESTAMP '2024-06-01 12:00:00' AS ts, DATE '2024-06-01' AS dt, "
        "CAST(1.5 AS DECIMAL(38, 18)) AS dec_v, X'0AFF' AS bin_v, "
        "array(1, 2, 3) AS mv, 'ok' AS s"
    )
    encoded = _json.dumps(resp)  # must not raise
    assert "1717243200000" in encoded  # ts as epoch millis (UTC session)
    types = resp["resultTable"]["dataSchema"]["columnDataTypes"]
    assert types == ["TIMESTAMP", "TIMESTAMP", "BIG_DECIMAL", "BYTES", "INT_ARRAY", "STRING"]
    row = resp["resultTable"]["rows"][0]
    assert row[0] == 1717243200000
    assert row[1] == 1717200000000  # date at UTC midnight
    assert row[2] == "1.500000000000000000"  # exact BigDecimal-as-string
    assert row[3] == "0aff"
    assert row[4] == [1, 2, 3]


INDEXED_TABLE_CONFIG = {
    "tableName": "indexedTable",
    "tableType": "REALTIME",
    "segmentsConfig": {"timeColumnName": "creationTimestamp"},
    "tableIndexConfig": {
        "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        "sortedColumn": ["price"],
        "bloomFilterColumns": ["userID"],
    },
}


def _bloom_offsets(spark, parquet_file: str) -> dict[str, int]:
    """Column -> bloom filter offset (-1 = absent) from the parquet footer,
    read with parquet-mr through the JVM gateway (pyarrow 16 / duckdb 1.0
    don't expose bloom metadata)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(parquet_file)
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        block = reader.getFooter().getBlocks().get(0)
        return {
            block.getColumns().get(i).getPath().toDotString():
                block.getColumns().get(i).getBloomFilterOffset()
            for i in range(block.getColumns().size())
        }
    finally:
        reader.close()


def test_storage_index_analogs_sorted_and_bloom(spark, tmp_path):
    # sortedColumn -> rows sorted inside each sealed file (tight zone maps);
    # bloomFilterColumns -> parquet bloom filters on high-cardinality chunks.
    src_dir = tmp_path / "stream_in"
    src_dir.mkdir(parents=True)
    n = 60_000  # unique ~24-byte userIDs overflow the 1 MB dictionary page,
    # forcing plain encoding — the case where parquet writes the bloom
    with open(src_dir / "batch1.json", "w") as fh:
        for i in range(n):
            fh.write(
                json.dumps(
                    {
                        "userID": f"user-{i:08d}-{i * 2654435761 % 10**9:09d}",
                        "campaign": ["BlackFriday", "10Percent", "NONE"][i % 3],
                        "price": 10 + (i * 37) % 140,
                        "creationTimestamp": f"2024-06-01 10:{i % 60:02d}:00",
                    }
                )
                + "\n"
            )

    engine = Engine(spark, str(tmp_path / "warehouse"))
    cfg = TableConfig.parse(INDEXED_TABLE_CONFIG)
    assert cfg.sorted_column == "price"
    assert cfg.bloom_filter_columns == ("userID",)

    pipeline = engine.add_table(
        CLICKSTREAM_SCHEMA,
        INDEXED_TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)),
        available_now=True,
    )
    pipeline.process_available()
    assert pipeline.table().count() == n

    files = [
        str(p)
        for p in (tmp_path / "warehouse" / "indexedTable" / "data").rglob("*.parquet")
    ]
    assert files
    # sortedColumn: every sealed file is internally sorted by price
    for f in files:
        prices = [r["price"] for r in spark.read.parquet(f).select("price").collect()]
        assert prices == sorted(prices), f
    # bloomFilterColumns: the userID chunk carries a bloom filter; columns
    # not configured don't
    offs = _bloom_offsets(spark, max(files, key=lambda f: Path(f).stat().st_size))
    assert offs["userID"] >= 0, offs
    assert offs["price"] == -1, offs
    pipeline.stop()


PARTITIONED_TABLE_CONFIG = {
    "tableName": "partitionedTable",
    "tableType": "REALTIME",
    "segmentsConfig": {"timeColumnName": "creationTimestamp"},
    "tableIndexConfig": {
        "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        "sortedColumn": ["price"],
        "segmentPartitionConfig": {
            "columnPartitionMap": {
                "userID": {"functionName": "Murmur", "numPartitions": 8}
            }
        },
    },
}


def test_segment_partition_config_bucketed_offline(spark, tmp_path):
    # segmentPartitionConfig -> optimize_layout() rewrites sealed data into a
    # hash-bucketed offline table; equality predicates on the partition
    # column prune to ONE bucket (Pinot's broker segment pruning analog).
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "batch1.json", 500, "2024-06-01")

    engine = Engine(spark, str(tmp_path / "warehouse"))
    cfg = TableConfig.parse(PARTITIONED_TABLE_CONFIG)
    assert cfg.partition_column == "userID" and cfg.partition_buckets == 8

    pipeline = engine.add_table(
        CLICKSTREAM_SCHEMA,
        PARTITIONED_TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)),
        available_now=True,
    )
    pipeline.process_available()
    pipeline.stop()

    info = engine.optimize_layout("partitionedTable")
    assert info["rows"] == 500 and info["buckets"] == 8

    old_auto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        q = spark.table("partitionedTable_offline").filter("userID = '42'")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan[:2000]
        expect = sum(1 for i in range(500) if str(i % 100) == "42")
        assert q.count() == expect

        # catalog metadata is session state; register_offline re-creates it
        # over the same files (the fresh-session path)
        spark.sql("DROP TABLE partitionedTable_offline")
        engine.register_offline("partitionedTable")
        q2 = spark.table("partitionedTable_offline").filter("userID = '42'")
        plan2 = q2._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan2
        assert q2.count() == expect
        assert spark.table("partitionedTable_offline").count() == 500
    finally:
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", old_auto)
        spark.sql("DROP TABLE IF EXISTS partitionedTable_offline")


def test_explain_plan_surface(spark, tmp_path):
    """Pinot `EXPLAIN PLAN FOR` analog: the plan comes back AS A RESULT TABLE
    (Operator / Operator_Id / Parent_Id, root parent -1), routed through the
    same query() entry point the broker exposes — and the operator rows carry
    the physical facts the scale story rests on (scan, aggregate)."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    df = engine.query(
        "EXPLAIN PLAN FOR SELECT ingest_date, count(*) AS n FROM range(10) "
        "CROSS JOIN (SELECT 1 AS ingest_date) GROUP BY ingest_date"
    )
    assert df.columns == ["Operator", "Operator_Id", "Parent_Id"]
    rows = df.collect()
    assert rows, "plan must have operator rows"
    ids = [r["Operator_Id"] for r in rows]
    assert ids == sorted(set(ids)), "operator ids are dense and unique"
    roots = [r for r in rows if r["Parent_Id"] == -1]
    assert len(roots) >= 1
    # every non-root parent exists and precedes its child (tree order)
    by_id = {r["Operator_Id"]: r for r in rows}
    for r in rows:
        if r["Parent_Id"] != -1:
            assert r["Parent_Id"] in by_id and r["Parent_Id"] < r["Operator_Id"]
    ops = " ".join(r["Operator"] for r in rows)
    assert "HashAggregate" in ops and "Range" in ops
    # the broker envelope serves the same rows (BI introspection path)
    resp = engine.query_broker_response("EXPLAIN PLAN FOR SELECT 1 AS x")
    assert resp["resultTable"]["dataSchema"]["columnNames"] == [
        "Operator", "Operator_Id", "Parent_Id"
    ]


def test_rollup_router_routes_and_matches_direct(spark, tmp_path):
    """Star-tree SELECTION analog: a covering request routes to the rollup
    and returns exactly the direct-aggregation answer (incl. merged avg and
    dim filters); a non-covered request falls back to the raw scan; the
    routed plan reads the rollup parquet, not the raw table."""
    from pyspark.sql import functions as F
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming import rollup as R
    from real_time_analytics_with_apache_pinot_on_aws_spark import catalog

    catalog.register_tables(spark, "/root/testdata/sf0.01")
    events = spark.table("events")
    spec = R.RollupSpec(
        dims=("event_type",),
        metrics={
            "s_value": ("sum", "value"),
            "c_value": ("count", "value"),
            "mn": ("min", "value"),
            "mx": ("max", "value"),
        },
    )
    # three "segments" -> three partial batches appended to one parquet rollup
    rollup_dir = str(tmp_path / "rollup_cells")
    for i in range(3):
        R.rollup_batch(events.filter(F.col("event_id") % 3 == i), spec).write.mode(
            "append"
        ).parquet(rollup_dir)

    router = R.RollupRouter(lambda: spark.table("events"))
    router.register("by_type", lambda: spark.read.parquet(rollup_dir), spec)

    req = R.AggRequest(
        dims=("event_type",),
        aggs={
            "total": ("sum", "value"),
            "n": ("count", "value"),
            "lo": ("min", "value"),
            "hi": ("max", "value"),
            "mean": ("avg", "value"),
        },
        dim_filters={"event_type": ("view", "click", "purchase")},
    )
    routed, route = router.answer(req)
    assert route == "rollup:by_type"
    # the scan reads rollup cell columns, not the raw events schema
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "s_value" in plan and "c_value" in plan
    assert "user_id" not in plan and "props" not in plan

    direct, droute = R.RollupRouter(lambda: spark.table("events")).answer(req)
    assert droute == "scan"
    key = lambda r: r["event_type"]  # noqa: E731
    got = sorted(routed.collect(), key=key)
    want = sorted(direct.collect(), key=key)
    assert [r["event_type"] for r in got] == [r["event_type"] for r in want]
    for g, w in zip(got, want):
        assert g["n"] == w["n"] and g["lo"] == w["lo"] and g["hi"] == w["hi"]
        assert abs(g["total"] - w["total"]) < 1e-6
        assert abs(g["mean"] - w["mean"]) < 1e-9

    # non-coverable shapes fall back: unknown dim, holistic-ish agg
    assert router.answer(
        R.AggRequest(dims=("user_id",), aggs={"n": ("count", "value")})
    )[1] == "scan"
    assert router.answer(
        R.AggRequest(dims=("event_type",), aggs={"md": ("median", "value")})
    )[1] == "scan"


def test_dedup_table_first_writer_wins(spark, tmp_path):
    """Pinot dedupConfig analog: a table with dedupEnabled serves the FIRST
    ingested row per primary key (mirror image of upsert's latest-wins),
    with the raw log at <name>_raw; same-timestamp duplicates resolve to the
    earlier-INGESTED row via the arrival-order tiebreaker."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "dedupTable"
    config["dedupConfig"] = {"dedupEnabled": True, "hashFunction": "NONE"}
    schema = dict(CLICKSTREAM_SCHEMA)
    schema["primaryKeyColumns"] = ["userID"]

    engine = Engine(spark, str(tmp_path / "warehouse"))

    def put(name, rows):
        src_dir.mkdir(parents=True, exist_ok=True)
        (src_dir / name).write_text("\n".join(_json.dumps(r) for r in rows))

    def row(uid, price, t):
        return {"userID": uid, "campaign": "c", "price": price,
                "creationTimestamp": f"2024-06-01 {t}"}

    put("b1.json", [row("u1", 10, "10:00:00"), row("u2", 20, "10:00:01")])
    pipe = engine.add_table(schema, config, RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    # later duplicates of u1 must be dropped from the resolved view
    put("b2.json", [row("u1", 11, "10:04:00"), row("u1", 12, "10:05:00")])
    pipe.process_available()
    # same-timestamp duplicate in a later batch: earlier-ingested wins
    put("b3.json", [row("u2", 21, "10:00:01")])
    pipe.process_available()

    engine.register_view("dedupTable")
    resolved = {r["userID"]: r["price"] for r in engine.query(
        "SELECT userID, price FROM dedupTable").collect()}
    assert resolved == {"u1": 10, "u2": 20}
    assert engine.query("SELECT count(*) AS n FROM dedupTable_raw").collect()[0]["n"] == 5
    pipe.stop()


def test_complex_type_unnest_at_ingest(spark, tmp_path):
    """Pinot complexTypeConfig.fieldsToUnnest analog: a multi-value collection
    explodes into one row per element during ingest (before transforms); null
    or missing collections keep their row with a NULL element."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "unnestTable"
    config["ingestionConfig"] = {"complexTypeConfig": {"fieldsToUnnest": ["tags"]}}
    schema = {
        "schemaName": "unnestTable",
        "dimensionFieldSpecs": [
            {"name": "userID", "dataType": "STRING"},
            {"name": "tags", "dataType": "STRING", "singleValueField": False},
        ],
        "metricFieldSpecs": [{"name": "price", "dataType": "INT"}],
        "dateTimeFieldSpecs": [
            {
                "name": "creationTimestamp",
                "dataType": "STRING",
                "format": "SIMPLE_DATE_FORMAT|yyyy-MM-dd HH:mm:ss",
            }
        ],
    }
    src_dir.mkdir(parents=True, exist_ok=True)
    rows = [
        {"userID": "u1", "tags": ["a", "b", "c"], "price": 5,
         "creationTimestamp": "2024-06-01 10:00:00"},
        {"userID": "u2", "tags": [], "price": 7,
         "creationTimestamp": "2024-06-01 10:00:01"},
        {"userID": "u3", "price": 9,
         "creationTimestamp": "2024-06-01 10:00:02"},
    ]
    (src_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))

    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(schema, config, RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    got = sorted(
        (r["userID"], r["tags"]) for r in pipe.table().select("userID", "tags").collect()
    )
    assert got == [("u1", "a"), ("u1", "b"), ("u1", "c"), ("u2", None), ("u3", None)]
    pipe.stop()


def test_star_tree_config_end_to_end(spark, tmp_path):
    """tableIndexConfig.starTreeIndexConfigs: the declared pre-agg is
    maintained per micro-batch at ingest and Engine.query_agg routes a
    covering request to it automatically (raw-scan fallback otherwise),
    returning exactly the direct-aggregation answer."""
    from pyspark.sql import functions as F
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming import rollup as R

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "starTable"
    config["tableIndexConfig"] = {
        "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        "starTreeIndexConfigs": [
            {
                "dimensionsSplitOrder": ["campaign", "ingest_date"],
                "functionColumnPairs": ["SUM__price", "COUNT__price", "MAX__price"],
            }
        ],
    }
    engine = Engine(spark, str(tmp_path / "warehouse"))
    _write_events(src_dir / "b1.json", 30, "2024-05-01")
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    _write_events(src_dir / "b2.json", 20, "2024-05-02", start=500)
    pipe.process_available()

    req = R.AggRequest(
        dims=("campaign",),
        aggs={"total": ("sum", "price"), "n": ("count", "price"),
              "top": ("max", "price"), "mean": ("avg", "price")},
    )
    routed, route = engine.query_agg("starTable", req)
    assert route == "rollup:startree"
    direct = pipe.table().groupBy("campaign").agg(
        F.sum("price").alias("total"), F.count("price").alias("n"),
        F.max("price").alias("top"), F.avg("price").alias("mean"),
    )
    key = lambda r: r["campaign"]  # noqa: E731
    got, want = sorted(routed.collect(), key=key), sorted(direct.collect(), key=key)
    assert [(r["campaign"], r["n"], r["top"]) for r in got] == [
        (r["campaign"], r["n"], r["top"]) for r in want
    ]
    for g, w in zip(got, want):
        assert abs(g["total"] - w["total"]) < 1e-6 and abs(g["mean"] - w["mean"]) < 1e-9
    # rollup cells shrink the read: cells < events
    assert pipe.rollup_table().count() < pipe.table().count()
    # non-coverable (extra dim) falls back to the raw scan
    assert engine.query_agg(
        "starTable", R.AggRequest(dims=("userID",), aggs={"n": ("count", "price")})
    )[1] == "scan"
    pipe.stop()


def test_retention_expires_star_tree_cells_with_their_day(spark, tmp_path):
    """Retention must keep the star-tree route consistent with the raw table:
    dropping a day partition also drops that day's rollup cells, so query_agg
    served from cells equals the direct aggregate AFTER expiry."""
    from pyspark.sql import functions as F
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming import rollup as R

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "starRet"
    config["tableIndexConfig"] = {
        "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        "starTreeIndexConfigs": [
            {
                "dimensionsSplitOrder": ["campaign", "ingest_date"],
                "functionColumnPairs": ["SUM__price", "COUNT__price"],
            }
        ],
    }
    engine = Engine(spark, str(tmp_path / "warehouse"))
    _write_events(src_dir / "old.json", 10, "2024-01-01")
    _write_events(src_dir / "new.json", 10, "2024-01-20", start=500)
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    assert pipe.rollup_table().filter(F.col("ingest_date") == "2024-01-01").count() > 0

    dropped = engine.run_retention("starRet")
    assert dropped == ["2024-01-01"]
    # expired day's cells are gone from the rollup too
    assert pipe.rollup_table().filter(F.col("ingest_date") == "2024-01-01").count() == 0
    # and the routed aggregate equals the direct one post-expiry
    req = R.AggRequest(dims=("campaign",), aggs={"n": ("count", "price")})
    routed, route = engine.query_agg("starRet", req)
    assert route == "rollup:startree"
    direct = {r["campaign"]: r["n"] for r in pipe.table().groupBy("campaign")
              .agg(F.count("price").alias("n")).collect()}
    assert {r["campaign"]: r["n"] for r in routed.collect()} == direct
    pipe.stop()


def test_star_tree_rejected_on_upsert_tables(spark, tmp_path):
    """Pinot parity: star-tree + upsert/dedup is an invalid combination —
    cells over the append-only log would double-count superseded versions.
    AddTable must fail loudly, not serve wrong aggregates."""
    import pytest as _pytest

    config = dict(TABLE_CONFIG)
    config["tableName"] = "badStar"
    config["upsertConfig"] = {"mode": "FULL"}
    config["tableIndexConfig"] = {
        "starTreeIndexConfigs": [
            {"dimensionsSplitOrder": ["campaign"], "functionColumnPairs": ["SUM__price"]}
        ],
    }
    schema = dict(CLICKSTREAM_SCHEMA)
    schema["primaryKeyColumns"] = ["userID"]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    with _pytest.raises(ValueError, match="starTreeIndexConfigs"):
        engine.add_table(schema, config,
                         RawRecordSource(kind="files", path=str(tmp_path / "in")),
                         start=False)


def test_compact_also_compacts_star_tree_cells(spark, tmp_path):
    """The cell log accretes one file per micro-batch like the raw table;
    compact() rewrites both with the same swap protocol."""
    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "starCompact"
    config["tableIndexConfig"] = {
        "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        "starTreeIndexConfigs": [
            {
                "dimensionsSplitOrder": ["campaign", "ingest_date"],
                "functionColumnPairs": ["SUM__price", "COUNT__price"],
            }
        ],
    }
    engine = Engine(spark, str(tmp_path / "warehouse"))
    # two micro-batches on the SAME day -> 2 files in each day partition
    _write_events(src_dir / "b1.json", 10, "2024-05-01")
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    _write_events(src_dir / "b2.json", 10, "2024-05-01", start=500)
    pipe.process_available()
    pipe.stop()

    before = pipe.rollup_table().agg(
        {"sum__price": "sum", "count__price": "sum"}
    ).collect()[0]
    report = engine.compact("starCompact")["compacted_partitions"]
    assert report.get("ingest_date=2024-05-01", 0) >= 2
    assert report.get("rollup:ingest_date=2024-05-01", 0) >= 2
    after = pipe.rollup_table().agg(
        {"sum__price": "sum", "count__price": "sum"}
    ).collect()[0]
    assert list(before) == list(after)  # cells identical, just fewer files


def test_query_routed_sql_star_tree_selection(spark, tmp_path):
    """Plain SQL hits the star-tree when it matches the narrow group-by shape
    (Pinot's broker-side index selection); anything else falls back to full
    Spark SQL — routing changes the scan, never the answer or the surface."""
    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "starSql"
    config["tableIndexConfig"] = {
        "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        "starTreeIndexConfigs": [
            {
                "dimensionsSplitOrder": ["campaign", "ingest_date"],
                "functionColumnPairs": ["SUM__price", "COUNT__price"],
            }
        ],
    }
    engine = Engine(spark, str(tmp_path / "warehouse"))
    _write_events(src_dir / "b1.json", 40, "2024-05-01")
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    engine.register_view("starSql")

    sql = ("SELECT campaign, sum(price) AS total, count(price) AS n "
           "FROM starSql WHERE campaign IN ('BlackFriday', '10Percent') "
           "GROUP BY campaign")
    routed, route = engine.query_routed(sql)
    assert route == "rollup:startree"
    direct = engine.query(sql)
    key = lambda r: r["campaign"]  # noqa: E731
    assert sorted(map(tuple, routed.select("campaign", "total", "n").collect()), key=lambda t: t[0]) == \
           sorted(map(tuple, direct.collect()), key=lambda t: t[0])

    # avg derives from sum+count cells
    ravg, route_avg = engine.query_routed(
        "SELECT campaign, avg(price) AS m FROM starSql GROUP BY campaign")
    assert route_avg == "rollup:startree"

    # non-coverable aggregate falls back to full SQL, same answer
    f1, r1 = engine.query_routed(
        "SELECT campaign, count(DISTINCT userID) AS u FROM starSql GROUP BY campaign")
    assert r1 == "sql"
    # arbitrary SQL (join, HAVING) also falls back untouched
    f2, r2 = engine.query_routed(
        "SELECT campaign, count(*) AS n FROM starSql GROUP BY campaign HAVING count(*) > 5")
    assert r2 == "sql" and f2.count() >= 0

    # SET useStarTree=false (Pinot query option) forces the raw scan —
    # the standard cross-check of a star-tree answer — with equal values
    f3, r3 = engine.query_routed(f"SET useStarTree=false; {sql}")
    assert r3 == "sql"
    assert sorted(map(tuple, f3.select("campaign", "total", "n").collect())) == \
           sorted(map(tuple, direct.collect()))
    pipe.stop()


def test_query_routed_threads_options_and_skip_upsert_bypasses_star_tree(spark, tmp_path):
    """Round-5 ADVICE (low): query_routed used to pass the STRIPPED SQL to
    query() on fallback, silently dropping skipUpsert (and every non-
    useStarTree option).  skipUpsert=true must reach query()'s raw-log
    rewrite intact on every fallback path.  (Star-tree + upsert is rejected
    at AddTable — cells over the log would double-count — so the
    skipUpsert-bypasses-star-tree branch in query_routed is defensive; the
    reachable surface is exactly these fallbacks.)"""
    import json as _json

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "skipRoute"
    config["upsertConfig"] = {"mode": "FULL"}
    schema = dict(CLICKSTREAM_SCHEMA)
    schema["primaryKeyColumns"] = ["userID"]
    engine = Engine(spark, str(tmp_path / "warehouse"))

    def row(uid, price, t):
        return {"userID": uid, "campaign": "c", "price": price,
                "creationTimestamp": f"2024-06-01 {t}"}

    src_dir.mkdir(parents=True, exist_ok=True)
    (src_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        row("u1", 10, "10:00:00"), row("u1", 12, "10:05:00"),
        row("u2", 20, "10:00:01"),
    ]))
    pipe = engine.add_table(schema, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    engine.register_view("skipRoute")

    agg = "SELECT campaign, count(price) AS n FROM skipRoute GROUP BY campaign"
    # default: no star-tree on this table, so the shape falls back to full
    # SQL over the RESOLVED view
    resolved, route = engine.query_routed(agg)
    assert route == "sql"
    assert resolved.collect()[0]["n"] == 2
    # skipUpsert=true must survive the same fallback and serve the raw log
    # (3 row versions)
    raw, route_raw = engine.query_routed(f"SET skipUpsert=true; {agg}")
    assert route_raw == "sql"
    assert raw.collect()[0]["n"] == 3
    # combined with useStarTree=false (the forced-raw-scan branch): both
    # options must parse and skipUpsert must still apply
    raw_both, route_both = engine.query_routed(
        f"SET useStarTree=false; SET skipUpsert=true; {agg}"
    )
    assert route_both == "sql" and raw_both.collect()[0]["n"] == 3
    # ...and on a non-routable fallback shape (option survives the fallback)
    raw2, route2 = engine.query_routed(
        "SET skipUpsert=true; SELECT count(*) AS n FROM skipRoute HAVING count(*) > 0"
    )
    assert route2 == "sql" and raw2.collect()[0]["n"] == 3
    # legacy OPTION() spelling threads through the same way
    raw3, route3 = engine.query_routed(f"{agg} OPTION(skipUpsert=true)")
    assert route3 == "sql" and raw3.collect()[0]["n"] == 3
    pipe.stop()


def test_schema_evolution_add_column(spark, tmp_path):
    """Pinot schema evolution: adding a column to the schema (and restarting
    the consumer, Pinot's reload) surfaces it table-wide — old rows read
    NULL (or the declared defaultNullValue), new rows carry data; existing
    data needs no rewrite."""
    import json as _json

    from pyspark.sql import functions as F

    src_dir = tmp_path / "stream_in"
    engine = Engine(spark, str(tmp_path / "warehouse"))
    config = dict(TABLE_CONFIG)
    config["tableName"] = "evolve"

    _write_events(src_dir / "b1.json", 10, "2024-06-01")
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    assert "channel" not in pipe.table().columns
    pipe.stop()

    # evolve: the schema gains a dimension; re-AddTable (Pinot reload analog)
    evolved = _json.loads(_json.dumps(CLICKSTREAM_SCHEMA))
    evolved["dimensionFieldSpecs"].append(
        {"name": "channel", "dataType": "STRING", "defaultNullValue": "unknown"}
    )
    (src_dir / "b2.json").write_text("\n".join(
        _json.dumps({"userID": str(i), "campaign": "NONE", "price": 5,
                     "channel": "web",
                     "creationTimestamp": "2024-06-02 09:00:00"})
        for i in range(5)
    ))
    pipe2 = engine.add_table(evolved, config,
                             RawRecordSource(kind="files", path=str(src_dir)),
                             available_now=True)
    pipe2.process_available()
    table = pipe2.table()
    assert "channel" in table.columns
    assert table.count() == 15
    by = {r["channel"]: r["n"] for r in
          table.groupBy("channel").agg(F.count("*").alias("n")).collect()}
    # pre-evolution rows: column absent in their files -> NULL on read (the
    # decode-time defaultNullValue applies to newly ingested rows only; we
    # do NOT rewrite history, same as Pinot reload)
    assert by.get(None, 0) == 10 and by.get("web", 0) == 5
    pipe2.stop()


def test_inverted_and_range_index_columns_map_to_storage_analogs():
    """invertedIndexColumns ride the bloom-filter path (equality row-group
    skip), rangeIndexColumns elect the in-file sort key when no sortedColumn
    is declared (tight zone maps = range skip); an explicit sortedColumn
    wins."""
    cfg = TableConfig.parse({
        "tableName": "idx",
        "tableIndexConfig": {
            "invertedIndexColumns": ["campaign", "userID"],
            "bloomFilterColumns": ["userID"],
            "rangeIndexColumns": ["price"],
        },
    })
    assert set(cfg.bloom_filter_columns) == {"campaign", "userID"}
    assert cfg.sorted_column == "price"
    cfg2 = TableConfig.parse({
        "tableName": "idx2",
        "tableIndexConfig": {
            "sortedColumn": ["creationTimestamp"],
            "rangeIndexColumns": ["price"],
        },
    })
    assert cfg2.sorted_column == "creationTimestamp"


def test_query_agg_scan_fallback_resolves_upsert(spark, tmp_path):
    """query_agg's raw-scan fallback on an upsert table must aggregate the
    RESOLVED view (latest row per key), never the append-only log — a
    superseded version leaking into a sum is a silent wrong answer."""
    import json as _json

    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming import rollup as R

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "upAgg"
    config["upsertConfig"] = {"mode": "FULL"}
    schema = dict(CLICKSTREAM_SCHEMA)
    schema["primaryKeyColumns"] = ["userID"]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    src_dir.mkdir(parents=True, exist_ok=True)
    rows = [
        {"userID": "u1", "campaign": "c", "price": 10,
         "creationTimestamp": "2024-06-01 10:00:00"},
        {"userID": "u1", "campaign": "c", "price": 99,
         "creationTimestamp": "2024-06-01 11:00:00"},  # supersedes the 10
        {"userID": "u2", "campaign": "c", "price": 7,
         "creationTimestamp": "2024-06-01 10:30:00"},
    ]
    (src_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    pipe = engine.add_table(schema, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()

    out, route = engine.query_agg(
        "upAgg", R.AggRequest(dims=("campaign",), aggs={"total": ("sum", "price"),
                                                        "n": ("count", "price")})
    )
    assert route == "scan"  # no star-tree on upsert tables
    row = out.collect()[0]
    assert row["n"] == 2 and row["total"] == 106  # 99 + 7, never 10+99+7
    pipe.stop()


def test_multiple_star_tree_configs_route_independently(spark, tmp_path):
    """Pinot allows several star-trees per table: each config maintains its
    own cell log and query_agg picks the first COVERING one — a request only
    the second config can serve routes to startree1."""
    from pyspark.sql import functions as F
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming import rollup as R

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "multiStar"
    config["tableIndexConfig"] = {
        "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        "starTreeIndexConfigs": [
            {   # config 0: by campaign, price metrics
                "dimensionsSplitOrder": ["campaign", "ingest_date"],
                "functionColumnPairs": ["SUM__price", "COUNT__price"],
            },
            {   # config 1: by user, count only
                "dimensionsSplitOrder": ["userID", "ingest_date"],
                "functionColumnPairs": ["COUNT__price"],
            },
        ],
    }
    engine = Engine(spark, str(tmp_path / "warehouse"))
    _write_events(src_dir / "b1.json", 30, "2024-05-01")
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()

    # covered by config 0
    _, route0 = engine.query_agg(
        "multiStar", R.AggRequest(dims=("campaign",), aggs={"t": ("sum", "price")})
    )
    assert route0 == "rollup:startree"
    # only config 1 covers a userID group-by
    by_user, route1 = engine.query_agg(
        "multiStar", R.AggRequest(dims=("userID",), aggs={"n": ("count", "price")})
    )
    assert route1 == "rollup:startree1"
    direct = {r["userID"]: r["n"] for r in pipe.table().groupBy("userID")
              .agg(F.count("price").alias("n")).collect()}
    assert {r["userID"]: r["n"] for r in by_user.collect()} == direct
    # neither covers -> scan
    assert engine.query_agg(
        "multiStar", R.AggRequest(dims=("campaign", "userID"),
                                  aggs={"n": ("count", "price")})
    )[1] == "scan"
    pipe.stop()


def test_retention_over_file_scheme_uri(spark, tmp_path):
    """A7 hardening (round-4 VERDICT item 1): run_retention goes through the
    Hadoop FS layer, so partition expiry works on a scheme-qualified URI
    (``file:...`` here, ``s3a://`` in the reference's deep store) — the old
    ``Path.glob`` implementation silently dropped NOTHING for these."""
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "old.json", 10, "2024-01-01")
    _write_events(src_dir / "new.json", 10, "2024-01-20", start=500)

    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipeline = engine.add_table(
        CLICKSTREAM_SCHEMA,
        TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)),
        available_now=True,
    )
    pipeline.process_available()
    assert pipeline.table().count() == 20
    # point the pipeline at the SAME data through a file:-scheme URI — the
    # exact shape an object-store deep store hands the maintenance path
    pipeline.table_path = f"file://{pipeline.table_path}"

    dropped = pipeline.run_retention()
    assert dropped == ["2024-01-01"]
    assert pipeline.table().count() == 10
    pipeline.stop()


def test_dayless_rollup_under_retention_rejected_and_never_routed(spark, tmp_path):
    """Round-4 ADVICE + round-5 review: a star-tree whose dims omit
    ingest_date aggregates ACROSS days, so run_retention can never expire
    its cells.  AddTable rejects the combination loudly (otherwise ingest
    would pay an ever-growing cell log no query may read), and — defense in
    depth for directly-constructed configs — query_agg still refuses to
    route to such a rollup."""
    import dataclasses as _dc

    import pytest as _pytest

    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming import rollup as R

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "daylessStar"
    config["tableIndexConfig"] = {
        "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        "starTreeIndexConfigs": [
            {
                "dimensionsSplitOrder": ["campaign"],  # no ingest_date
                "functionColumnPairs": ["SUM__price", "COUNT__price"],
            }
        ],
    }
    engine = Engine(spark, str(tmp_path / "warehouse"))
    _write_events(src_dir / "old.json", 10, "2024-01-01")
    _write_events(src_dir / "new.json", 10, "2024-01-20", start=500)
    with _pytest.raises(ValueError, match="ingest_date"):
        engine.add_table(CLICKSTREAM_SCHEMA, config,
                         RawRecordSource(kind="files", path=str(src_dir)),
                         start=False)

    # defense in depth: a config mutated to the bad combination after
    # AddTable still never routes to the dayless rollup
    config["tableIndexConfig"].pop("starTreeIndexConfigs")
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    engine.configs["daylessStar"] = _dc.replace(
        engine.configs["daylessStar"],
        star_trees=((("campaign",), (("sum__price", ("sum", "price")),)),),
    )
    req = R.AggRequest(dims=("campaign",), aggs={"t": ("sum", "price")})
    routed, route = engine.query_agg("daylessStar", req)
    assert route == "scan"  # never the stale-able rollup

    # and the scan answer tracks retention: after expiry, counts shrink
    engine.run_retention("daylessStar")
    post, route2 = engine.query_agg("daylessStar", req)
    assert route2 == "scan" and post.count() > 0
    assert pipe.table().count() == 10
    pipe.stop()


def test_query_routed_parser_hardening(spark, tmp_path):
    """Round-4 ADVICE items 1+2: trailing ORDER BY/LIMIT must not pollute the
    parsed GROUP BY dims (fall back to SQL, never AnalysisException), and
    quoted commas in IN-lists must not be split into phantom values."""
    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "routeHard"
    config["tableIndexConfig"] = {
        "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        "starTreeIndexConfigs": [
            {
                "dimensionsSplitOrder": ["campaign", "ingest_date"],
                "functionColumnPairs": ["SUM__price", "COUNT__price"],
            }
        ],
    }
    engine = Engine(spark, str(tmp_path / "warehouse"))
    _write_events(src_dir / "b1.json", 40, "2024-05-01")
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    engine.register_view("routeHard")

    # 1) LIMIT absorbed into the GROUP BY capture: valid SQL, must answer
    #    (previously df.groupBy('campaign LIMIT 2') -> AnalysisException)
    sql = "SELECT sum(price) AS t FROM routeHard GROUP BY campaign LIMIT 2"
    out, route = engine.query_routed(sql)
    assert route == "sql"
    assert out.count() == 2

    # ORDER BY tail likewise falls back and answers
    out2, route2 = engine.query_routed(
        "SELECT campaign, sum(price) AS t FROM routeHard "
        "GROUP BY campaign ORDER BY t DESC")
    assert route2 == "sql" and out2.count() == 3

    # 2) quoted comma inside an IN value: two values, not three — the routed
    #    answer must equal full SQL (previously '10Percent,x' split in two)
    sql_in = ("SELECT campaign, count(price) AS n FROM routeHard "
              "WHERE campaign IN ('10Percent,x', 'BlackFriday') GROUP BY campaign")
    routed, route3 = engine.query_routed(sql_in)
    direct = engine.query(sql_in)
    assert sorted(map(tuple, routed.select("campaign", "n").collect())) == \
           sorted(map(tuple, direct.collect()))

    # ambiguous quoting (doubled '' escape) -> conservative SQL fallback
    _, route4 = engine.query_routed(
        "SELECT campaign, count(price) AS n FROM routeHard "
        "WHERE campaign IN ('it''s') GROUP BY campaign")
    assert route4 == "sql"

    # 3) comments are not code: a commented statement keeps its route
    commented = ("SELECT campaign, sum(price) AS t FROM routeHard /* it's */ "
                 "GROUP BY campaign -- per campaign")
    routed5, route5 = engine.query_routed(commented)
    assert route5 == "rollup:startree"
    assert sorted(map(tuple, routed5.select("campaign", "t").collect())) == \
           sorted(map(tuple, engine.query(commented).collect()))
    pipe.stop()


def test_explain_plan_skips_aqe_banners(spark):
    """Round-4 ADVICE: AQE section banners ('== Current Plan ==' /
    '== Initial Plan ==') must not surface as operator rows, and the
    initial-plan duplicate subtree must not double the operators."""
    spark.range(100).selectExpr("id % 7 AS k", "id AS v").createOrReplaceTempView(
        "explain_src"
    )
    from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine

    engine = Engine.__new__(Engine)  # plan surface only; no warehouse needed
    engine.spark = spark
    plan = engine.explain_plan(
        "SELECT k, sum(v) AS s FROM explain_src GROUP BY k ORDER BY s DESC"
    )
    rows = plan.collect()
    ops = [r["Operator"] for r in rows]
    assert not any(op.startswith("==") for op in ops)
    # exactly one scan/aggregate pair set — the initial-plan copy is gone
    assert sum("HashAggregate" in op for op in ops) <= 2
    # parentage is a well-formed forest rooted at -1
    ids = {r["Operator_Id"] for r in rows}
    assert all(r["Parent_Id"] == -1 or r["Parent_Id"] in ids for r in rows)
    assert sum(r["Parent_Id"] == -1 for r in rows) == 1


def test_broker_response_error_envelope(spark, tmp_path):
    """Round-4 VERDICT item 6: the broker never raises through /query/sql —
    failures return Pinot's structured ``exceptions: [{errorCode, message}]``
    envelope **[P1.2]** and json.dumps always succeeds."""
    import json as _json

    engine = Engine(spark, str(tmp_path / "warehouse"))

    # unknown table -> validation error (Pinot 700)
    resp = engine.query_broker_response("SELECT x FROM definitely_not_a_table")
    assert resp["numRowsResultSet"] == 0
    assert resp["exceptions"] and resp["exceptions"][0]["errorCode"] == 700
    assert "definitely_not_a_table" in resp["exceptions"][0]["message"]
    _json.dumps(resp)

    # unparseable SQL -> parse error (Pinot 150)
    resp2 = engine.query_broker_response("SELEC nope FROM")
    assert resp2["exceptions"][0]["errorCode"] == 150
    _json.dumps(resp2)

    # success path unchanged: empty exceptions list
    ok = engine.query_broker_response("SELECT 1 AS one")
    assert ok["exceptions"] == [] and ok["resultTable"]["rows"] == [[1]]


def test_text_index_config_end_to_end(spark, tmp_path):
    """fieldConfigList TEXT declaration **[P1.2]** closes the config loop:
    the declared analyzer (EnglishAnalyzer + stopword lists) drives both the
    inline TEXT_MATCH path and the persisted bucket-pruned index."""
    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "textTable"
    config["fieldConfigList"] = [
        {
            "name": "campaign",
            "encodingType": "RAW",
            "indexType": "TEXT",
            "properties": {
                "luceneAnalyzerClass": "org.apache.lucene.analysis.en.EnglishAnalyzer",
            },
        }
    ]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    # campaign values: 'BlackFriday', '10Percent', 'NONE' (cycled)
    _write_events(src_dir / "b1.json", 30, "2024-05-01")
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()

    cfg = engine.configs["textTable"]
    assert cfg.text_index_columns and cfg.text_index_columns[0][0] == "campaign"
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import textmatch as tm

    analyzer = engine._text_analyzer("textTable", "campaign")
    assert analyzer.stem and "the" in analyzer.stopwords
    # ENGLISH stemming: query 'blackfridays' stems to 'blackfriday' and hits
    inline = engine.text_match("textTable", "campaign", "blackfridays", id_col="userID")
    assert inline.count() == 10
    # persisted index serves the same result bucket-pruned
    idx = engine.build_text_index("textTable", "campaign", id_col="userID")
    try:
        assert spark.catalog.tableExists(idx)
        indexed = engine.text_match("textTable", "campaign", "blackfridays", id_col="userID")
        assert indexed.count() == 10
        # undeclared column falls back to the standard analyzer
        assert engine._text_analyzer("textTable", "payload") is tm.STANDARD
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")
    pipe.stop()


def test_vector_index_config_end_to_end(spark, tmp_path):
    """Pinot 1.2 VECTOR index **[P1.2]**: fieldConfigList declaration ->
    Engine.vector_similarity (the VECTOR_SIMILARITY predicate), exact scan
    by default and the persisted partition-pruned IVF layout after
    build_vector_index (full-probe == exact); the declared distance
    function drives the score."""
    import json as _json
    import math

    src_dir = tmp_path / "stream_in"
    src_dir.mkdir(parents=True)
    with open(src_dir / "vecs.json", "w") as fh:
        for i in range(24):
            angle = i * math.pi / 12
            fh.write(_json.dumps({
                "vec_id": i,
                "embedding": [math.cos(angle), math.sin(angle), 0.1 * (i % 3), 1.0],
                "creationTimestamp": f"2024-06-01 10:{i:02d}:00",
            }) + "\n")
    schema = {
        "schemaName": "vecTable",
        "dimensionFieldSpecs": [
            {"name": "vec_id", "dataType": "LONG"},
            {"name": "embedding", "dataType": "FLOAT", "singleValueField": False},
        ],
        "dateTimeFieldSpecs": [
            {"name": "creationTimestamp", "dataType": "STRING",
             "format": "SIMPLE_DATE_FORMAT|yyyy-MM-dd HH:mm:ss",
             "granularity": "1:DAYS"},
        ],
    }
    config = dict(TABLE_CONFIG)
    config["tableName"] = "vecTable"
    config["fieldConfigList"] = [
        {
            "name": "embedding",
            "encodingType": "RAW",
            "indexType": "VECTOR",
            "properties": {
                "vectorIndexType": "HNSW",
                "vectorDimension": 4,
                "vectorDistanceFunction": "COSINE",
            },
        }
    ]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(schema, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    assert engine.configs["vecTable"].vector_index_columns[0][0] == "embedding"

    # exact scan path: the nearest neighbor of vec 0's direction is vec 0
    q = [1.0, 0.0, 0.0, 1.0]
    exact = engine.vector_similarity("vecTable", "embedding", q, top_k=5)
    rows = exact.collect()
    assert len(rows) == 5 and rows[0]["rank"] == 1
    assert rows[0]["neighbor_id"] == 0  # cos(0)=1, sin=0, pad 0,1 == q
    assert rows[0]["score"] >= rows[-1]["score"]

    # persisted IVF index: full probe (n_probe == n_cells) matches exact
    idx = engine.build_vector_index("vecTable", "embedding", id_col="vec_id", n_cells=2)
    try:
        assert spark.catalog.tableExists(idx)
        indexed = engine.vector_similarity(
            "vecTable", "embedding", q, top_k=5, id_col="vec_id", n_probe=2)
        assert [r["neighbor_id"] for r in indexed.orderBy("rank").collect()] == \
               [r["neighbor_id"] for r in rows]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")
        spark.sql(f"DROP TABLE IF EXISTS {idx}_centroids")

    # other declared functions score exactly (brute path)
    config2 = _json.loads(_json.dumps(config))
    config2["tableName"] = "vecTableL2"
    config2["fieldConfigList"][0]["properties"]["vectorDistanceFunction"] = "EUCLIDEAN"
    pipe2 = engine.add_table(schema, config2,
                             RawRecordSource(kind="files", path=str(src_dir)),
                             available_now=True)
    pipe2.process_available()
    l2 = engine.vector_similarity("vecTableL2", "embedding", q, top_k=3).collect()
    assert l2[0]["neighbor_id"] == 0 and l2[0]["score"] == 0.0  # -distance
    import pytest as _pytest
    with _pytest.raises(ValueError, match="COSINE"):
        engine.build_vector_index("vecTableL2", "embedding", id_col="vec_id")
    pipe.stop()
    pipe2.stop()


def test_vector_similarity_sql_form(spark, tmp_path):
    """The SQL shape Pinot users actually write **[P1.2]**: SELECT ... WHERE
    VECTOR_SIMILARITY(col, ARRAY[...], k) through query()/the broker
    envelope — resolved as top-k ids broadcast-semi-joined back."""
    import json as _json
    import math

    src_dir = tmp_path / "stream_in"
    src_dir.mkdir(parents=True)
    with open(src_dir / "vecs.json", "w") as fh:
        for i in range(16):
            angle = i * math.pi / 8
            fh.write(_json.dumps({
                "vec_id": i,
                "embedding": [math.cos(angle), math.sin(angle), 1.0],
                "creationTimestamp": f"2024-06-01 10:{i:02d}:00",
            }) + "\n")
    schema = {
        "schemaName": "vecSql",
        "dimensionFieldSpecs": [
            {"name": "vec_id", "dataType": "LONG"},
            {"name": "embedding", "dataType": "FLOAT", "singleValueField": False},
        ],
        "dateTimeFieldSpecs": [
            {"name": "creationTimestamp", "dataType": "STRING",
             "format": "SIMPLE_DATE_FORMAT|yyyy-MM-dd HH:mm:ss",
             "granularity": "1:DAYS"},
        ],
        "primaryKeyColumns": ["vec_id"],
    }
    config = dict(TABLE_CONFIG)
    config["tableName"] = "vecSql"
    config["fieldConfigList"] = [
        {"name": "embedding", "indexType": "VECTOR",
         "properties": {"vectorDistanceFunction": "COSINE"}},
    ]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(schema, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()

    out = engine.query(
        "SELECT vec_id, embedding FROM vecSql "
        "WHERE VECTOR_SIMILARITY(embedding, ARRAY[1.0, 0.0, 1.0], 3)"
    )
    ids = {r["vec_id"] for r in out.collect()}
    assert len(ids) == 3 and 0 in ids  # vec 0 == the query direction
    # comments around the clauses are not part of the form
    commented = engine.query(
        "SELECT vec_id, embedding FROM vecSql -- nearest three\n"
        "WHERE VECTOR_SIMILARITY(embedding, ARRAY[1.0, 0.0, 1.0], 3) /* k */"
    )
    assert {r["vec_id"] for r in commented.collect()} == ids

    # through the broker envelope too (the wire path)
    resp = engine.query_broker_response(
        "SELECT vec_id FROM vecSql WHERE VECTOR_SIMILARITY(embedding, ARRAY[1.0, 0.0, 1.0], 3)"
    )
    assert resp["numRowsResultSet"] == 3 and resp["exceptions"] == []

    # composed with a residual predicate **[P1.2]**: Pinot applies the
    # vector predicate first (index top-k), then the ordinary filter on the
    # candidate set — so the result can be FEWER than k rows, and must be a
    # subset of the unfiltered top-k
    combined = engine.query(
        "SELECT vec_id FROM vecSql "
        "WHERE VECTOR_SIMILARITY(embedding, ARRAY[1.0, 0.0, 1.0], 3) "
        "AND vec_id <> 0"
    )
    combined_ids = {r["vec_id"] for r in combined.collect()}
    assert combined_ids == ids - {0} and len(combined_ids) == 2
    resp_combined = engine.query_broker_response(
        "SELECT vec_id FROM vecSql "
        "WHERE VECTOR_SIMILARITY(embedding, ARRAY[1.0, 0.0, 1.0], 3) "
        "AND vec_id <> 0 AND vec_id >= 0"
    )
    assert resp_combined["numRowsResultSet"] == 2
    assert resp_combined["exceptions"] == []

    # a top-level OR in the residual is REJECTED loudly (round-6 review):
    # SQL precedence makes VS(...) AND a OR b == (VS AND a) OR b — rows
    # outside the top-k would qualify, which the rewrite cannot express
    import pytest as _pytest
    with _pytest.raises(ValueError, match="top-level OR"):
        engine.query(
            "SELECT vec_id FROM vecSql "
            "WHERE VECTOR_SIMILARITY(embedding, ARRAY[1.0, 0.0, 1.0], 3) "
            "AND vec_id <> 0 OR vec_id = 15"
        )
    # ...but a PARENTHESIZED disjunction binds inside the conjunct and works
    paren = engine.query(
        "SELECT vec_id FROM vecSql "
        "WHERE VECTOR_SIMILARITY(embedding, ARRAY[1.0, 0.0, 1.0], 3) "
        "AND (vec_id = 0 OR vec_id = 1)"
    )
    assert {r["vec_id"] for r in paren.collect()} <= {0, 1}

    # a table without primary keys gets a clear validation error
    config2 = dict(config)
    config2["tableName"] = "vecNoPk"
    schema2 = dict(schema)
    schema2.pop("primaryKeyColumns")
    schema2["schemaName"] = "vecNoPk"
    pipe2 = engine.add_table(schema2, config2,
                             RawRecordSource(kind="files", path=str(src_dir)),
                             available_now=True)
    pipe2.process_available()
    resp2 = engine.query_broker_response(
        "SELECT vec_id FROM vecNoPk WHERE VECTOR_SIMILARITY(embedding, ARRAY[1.0, 0.0, 1.0], 3)"
    )
    assert resp2["exceptions"] and resp2["exceptions"][0]["errorCode"] == 700
    pipe.stop()
    pipe2.stop()


def test_vector_similarity_with_string_primary_key(spark, tmp_path):
    """Round-5 review: the indexed path must serve tables whose primary key
    is a STRING — the old sentinel-id exclusion filter null-cast the
    comparison and silently dropped every row."""
    import json as _json
    import math

    src_dir = tmp_path / "stream_in"
    src_dir.mkdir(parents=True)
    with open(src_dir / "vecs.json", "w") as fh:
        for i in range(12):
            angle = i * math.pi / 6
            fh.write(_json.dumps({
                "doc_key": f"doc-{i:03d}",
                "embedding": [math.cos(angle), math.sin(angle), 1.0],
                "creationTimestamp": f"2024-06-01 10:{i:02d}:00",
            }) + "\n")
    schema = {
        "schemaName": "vecStr",
        "dimensionFieldSpecs": [
            {"name": "doc_key", "dataType": "STRING"},
            {"name": "embedding", "dataType": "FLOAT", "singleValueField": False},
        ],
        "dateTimeFieldSpecs": [
            {"name": "creationTimestamp", "dataType": "STRING",
             "format": "SIMPLE_DATE_FORMAT|yyyy-MM-dd HH:mm:ss",
             "granularity": "1:DAYS"},
        ],
        "primaryKeyColumns": ["doc_key"],
    }
    config = dict(TABLE_CONFIG)
    config["tableName"] = "vecStr"
    config["fieldConfigList"] = [
        {"name": "embedding", "indexType": "VECTOR",
         "properties": {"vectorDistanceFunction": "COSINE"}},
    ]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(schema, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()

    q = [1.0, 0.0, 1.0]
    exact = engine.vector_similarity("vecStr", "embedding", q, top_k=3, id_col="doc_key")
    assert [r["neighbor_id"] for r in exact.collect()][0] == "doc-000"

    idx = engine.build_vector_index("vecStr", "embedding", id_col="doc_key", n_cells=2)
    try:
        indexed = engine.query(
            "SELECT doc_key FROM vecStr "
            "WHERE VECTOR_SIMILARITY(embedding, ARRAY[1.0, 0.0, 1.0], 3)"
        )
        keys = {r["doc_key"] for r in indexed.collect()}
        assert len(keys) == 3 and "doc-000" in keys
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")
        spark.sql(f"DROP TABLE IF EXISTS {idx}_centroids")
    pipe.stop()


def test_pinot_set_query_options_parse_and_strip(spark, tmp_path):
    """Pinot clients prefix statements with SET key=value; options
    **[P1.2]** (JDBC driver, query console) — the engine must answer the
    statement instead of failing to parse."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    out = engine.query(
        "SET timeoutMs=3000; SET useMultistageEngine=true; SELECT 2 + 2 AS four"
    )
    assert out.collect()[0]["four"] == 4
    resp = engine.query_broker_response("SET timeoutMs='500'; SELECT 1 AS one")
    assert resp["exceptions"] == [] and resp["resultTable"]["rows"] == [[1]]
    # a bare SELECT is untouched, and SET inside a string literal survives
    lit = engine.query("SELECT 'SET x=1; not an option' AS s").collect()[0]["s"]
    assert lit.startswith("SET x=1")


DIM_SCHEMA = {
    "schemaName": "campaignDim",
    "dimensionFieldSpecs": [
        {"name": "campaign", "dataType": "STRING"},
        {"name": "owner", "dataType": "STRING"},
    ],
    "metricFieldSpecs": [{"name": "discountPct", "dataType": "INT"}],
    "primaryKeyColumns": ["campaign"],
}

DIM_CONFIG = {
    "tableName": "campaignDim",
    "tableType": "OFFLINE",
    "isDimTable": True,
    "dimensionTableConfig": {"disablePreload": False},
}


def test_dim_table_scalar_lookup_end_to_end(spark, tmp_path):
    """Pinot scalar LOOKUP UDF **[P1.2]** over an isDimTable=true table:
    LOOKUP('dim','valueCol','pkCol', expr) decorates fact rows with dim
    values (null where the key is absent), served as a correlated scalar
    subquery Catalyst broadcasts — Pinot's replicated dim join."""
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "b.json", 30, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.register_view("kinesisTable")

    dim = spark.createDataFrame(
        [("BlackFriday", "alex", 25), ("10Percent", "sam", 10)],
        "campaign string, owner string, discountPct int",
    )
    detail = engine.add_dim_table(DIM_SCHEMA, DIM_CONFIG, dim)
    assert detail["rows"] == 2
    assert "campaignDim" in engine.list_tables()

    rows = engine.query(
        "SELECT userID, campaign, "
        "LOOKUP('campaignDim', 'owner', 'campaign', campaign) AS owner, "
        "price - LOOKUP('campaignDim', 'discountPct', 'campaign', campaign) AS net "
        "FROM kinesisTable"
    ).collect()
    assert len(rows) == 30
    by_campaign = {}
    for r in rows:
        by_campaign.setdefault(r["campaign"], r)
    assert by_campaign["BlackFriday"]["owner"] == "alex"
    assert by_campaign["10Percent"]["owner"] == "sam"
    # key absent from the dim table -> NULL (Spark real-null semantics;
    # Pinot would substitute the column's defaultNullValue, SURVEY §1.2)
    assert by_campaign["NONE"]["owner"] is None
    assert by_campaign["NONE"]["net"] is None

    # the replicated-join contract: the dim side is broadcast, the fact
    # side never shuffles for the lookup
    plan = (
        engine.query(
            "SELECT LOOKUP('campaignDim','owner','campaign', campaign) AS o "
            "FROM kinesisTable"
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Broadcast" in plan

    # LOOKUP inside a string literal is data, not a call
    lit = engine.query(
        "SELECT 'use LOOKUP(a,b) here' AS s"
    ).collect()[0]["s"]
    assert lit == "use LOOKUP(a,b) here"
    pipe.stop()


def test_dim_table_lookup_composite_key(spark, tmp_path):
    """LOOKUP's multi-pair form: ('dim','val', 'pk1', e1, 'pk2', e2)."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    dim = spark.createDataFrame(
        [("us", "web", 1.5), ("us", "app", 2.5), ("eu", "web", 3.5)],
        "region string, channel string, weight double",
    )
    schema = {
        "schemaName": "weightsDim",
        "dimensionFieldSpecs": [
            {"name": "region", "dataType": "STRING"},
            {"name": "channel", "dataType": "STRING"},
        ],
        "metricFieldSpecs": [{"name": "weight", "dataType": "DOUBLE"}],
        "primaryKeyColumns": ["region", "channel"],
    }
    engine.add_dim_table(
        schema, {"tableName": "weightsDim", "isDimTable": True}, dim
    )
    spark.createDataFrame(
        [("us", "app"), ("eu", "web"), ("ap", "web")], "r string, c string"
    ).createOrReplaceTempView("facts_rc")
    got = {
        (row["r"], row["c"]): row["w"]
        for row in engine.query(
            "SELECT r, c, LOOKUP('weightsDim','weight','region', r, "
            "'channel', c) AS w FROM facts_rc"
        ).collect()
    }
    assert got[("us", "app")] == 2.5
    assert got[("eu", "web")] == 3.5
    assert got[("ap", "web")] is None


def test_dim_table_and_lookup_validation(spark, tmp_path):
    import pytest as _pytest

    engine = Engine(spark, str(tmp_path / "warehouse"))
    dim = spark.createDataFrame([("a", 1)], "campaign string, discountPct int")
    # isDimTable must be declared
    with _pytest.raises(ValueError, match="isDimTable"):
        engine.add_dim_table(DIM_SCHEMA, {"tableName": "campaignDim"}, dim)
    # primary keys must exist in the frame
    with _pytest.raises(ValueError, match="primaryKeyColumns"):
        engine.add_dim_table(
            {"schemaName": "d", "dimensionFieldSpecs": [{"name": "x", "dataType": "STRING"}]},
            {"tableName": "d", "isDimTable": True},
            dim,
        )
    engine.add_dim_table(
        DIM_SCHEMA, DIM_CONFIG,
        spark.createDataFrame(
            [("a", "o", 1)], "campaign string, owner string, discountPct int"
        ),
    )
    # LOOKUP against a non-dim table fails loudly
    with _pytest.raises(ValueError, match="not a registered dimension"):
        engine.query("SELECT LOOKUP('nosuch','v','k', 1) AS v")
    # join key must be a declared primaryKeyColumn
    with _pytest.raises(ValueError, match="primaryKeyColumn"):
        engine.query("SELECT LOOKUP('campaignDim','owner','owner', 'x') AS v")
    # arity: pairs after the first two arguments
    with _pytest.raises(ValueError, match="argument"):
        engine.query("SELECT LOOKUP('campaignDim','owner','campaign') AS v")


def test_legacy_option_suffix_parse_and_strip(spark, tmp_path):
    """Pre-SET Pinot clients append OPTION(k=v, ...) **[P1.2]** — parse,
    record, strip; the statement answers."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    out = engine.query("SELECT 3 + 4 AS seven OPTION(timeoutMs=1000, skipUpsert=true)")
    assert out.collect()[0]["seven"] == 7
    stripped, opts = engine._strip_query_options(
        "SET useMultistageEngine=true; SELECT 1 OPTION(timeoutMs=250)"
    )
    assert stripped.strip() == "SELECT 1"
    assert opts == {"useMultistageEngine": "true", "timeoutMs": "250"}
    # a comment before SET or after OPTION(...) hides no option
    for commented in (
        "-- dash\nSET timeoutMs=100; SELECT 1",
        "SELECT 1 OPTION(timeoutMs=100) -- x",
    ):
        stripped, opts = engine._strip_query_options(commented)
        assert stripped.strip() == "SELECT 1"
        assert opts == {"timeoutMs": "100"}
    out = engine.query("SELECT 3 + 4 AS seven OPTION(timeoutMs=1000) -- x")
    assert out.collect()[0]["seven"] == 7
    # OPTION inside a trailing string literal is untouched
    lit = engine.query("SELECT 'ends with OPTION(a=1)' AS s").collect()[0]["s"]
    assert lit == "ends with OPTION(a=1)"


def _gapfill_engine(spark, tmp_path):
    """Fact rows at hours 0,1,4 of one day — hours 2,3 are holes."""
    src_dir = tmp_path / "stream_in"
    src_dir.mkdir(parents=True, exist_ok=True)
    with open(src_dir / "ev.json", "w") as fh:
        for hour, price in [(0, 10), (1, 20), (4, 50), (0, 5), (4, 7)]:
            fh.write(
                json.dumps(
                    {
                        "userID": "u1",
                        "campaign": "A" if price % 2 == 0 else "B",
                        "price": price,
                        "creationTimestamp": f"2024-06-01 {hour:02d}:00:00",
                    }
                )
                + "\n"
            )
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.register_view("kinesisTable")
    return engine, pipe


def test_sql_gapfill_over_aggregated_subquery(spark, tmp_path):
    """Pinot SQL gapfill **[P1.2]**, aggregated-subquery shape: the inner
    SELECT pre-buckets and aggregates, GAPFILL fills the missing buckets per
    TIMESERIESON series with FILL_DEFAULT_VALUE."""
    engine, pipe = _gapfill_engine(spark, tmp_path)
    out = engine.query(
        "SELECT GAPFILL(tb, '1:HOURS:EPOCH', '2024-06-01 00:00:00', "
        "'2024-06-01 04:00:00', '1:HOURS', FILL(rev, 'FILL_DEFAULT_VALUE'), "
        "TIMESERIESON(campaign)) AS tb, campaign, rev "
        "FROM (SELECT date_trunc('HOUR', creationTimestamp__ts) AS tb, "
        "campaign, sum(price) AS rev FROM kinesisTable "
        "GROUP BY 1, 2)"
    )
    rows = out.collect()
    # 5 hourly buckets x 2 campaigns
    assert len(rows) == 10
    got = {(r["tb"].hour, r["campaign"]): r["rev"] for r in rows}
    assert got[(0, "A")] == 10 and got[(0, "B")] == 5
    assert got[(2, "A")] == 0 and got[(3, "B")] == 0  # holes filled with 0
    assert got[(4, "A")] == 50 and got[(4, "B")] == 7
    pipe.stop()


def test_sql_gapfill_previous_fill_and_outer_aggregate(spark, tmp_path):
    """Outer-aggregation shape: SELECT ... FROM (SELECT GAPFILL(...) ...)
    GROUP BY — the gapfill result splices back as a view; previous-value
    fill forward-fills each series independently."""
    engine, pipe = _gapfill_engine(spark, tmp_path)
    out = engine.query(
        "SELECT tb, sum(rev) AS total FROM ("
        "SELECT GAPFILL(tb, '1:HOURS:EPOCH', '2024-06-01 00:00:00', "
        "'2024-06-01 04:00:00', '1:HOURS', FILL(rev, 'FILL_PREVIOUS_VALUE'), "
        "TIMESERIESON(campaign)) AS tb, campaign, rev "
        "FROM (SELECT date_trunc('HOUR', creationTimestamp__ts) AS tb, "
        "campaign, sum(price) AS rev FROM kinesisTable GROUP BY 1, 2)"
        ") GROUP BY tb ORDER BY tb"
    ).collect()
    assert len(out) == 5
    by_hour = {r["tb"].hour: r["total"] for r in out}
    # series A has rows at hours 0(10), 1(20), 4(50); B at 0(5), 4(7)
    assert by_hour[0] == 15            # A=10 + B=5
    assert by_hour[1] == 25            # A=20 real + B=5 forward-filled
    assert by_hour[2] == 25 and by_hour[3] == 25   # both forward-filled
    assert by_hour[4] == 57            # A=50 + B=7
    pipe.stop()


def test_sql_gapfill_epoch_bounds_and_where(spark, tmp_path):
    """Raw-table shape with epoch-millis bounds and a WHERE pushdown."""
    engine, pipe = _gapfill_engine(spark, tmp_path)
    start_ms = 1717200000000  # 2024-06-01 00:00:00 UTC
    end_ms = start_ms + 4 * 3600 * 1000
    out = engine.query(
        f"SELECT GAPFILL(date_trunc('HOUR', creationTimestamp__ts), "
        f"'1:MILLISECONDS:EPOCH', '{start_ms}', '{end_ms}', '1:HOURS', "
        f"FILL(price, 'FILL_DEFAULT_VALUE')) AS tb, price "
        f"FROM kinesisTable WHERE campaign = 'B'"
    ).collect()
    # B rows exist at hours 0 and 4 -> spine 0..4, holes filled with 0
    assert len(out) == 5
    vals = {r["tb"].hour: r["price"] for r in out}
    assert vals[0] == 5 and vals[4] == 7
    assert vals[1] == 0 and vals[2] == 0 and vals[3] == 0

    # size-prefixed format (round-5 ADVICE): '15:MINUTES:EPOCH' bounds count
    # 15-minute units — start_ms/900000 and the same window must give the
    # identical spine, not one 15x narrower
    start_15m = start_ms // (15 * 60 * 1000)
    end_15m = start_15m + 4 * 4  # 4 hours = 16 fifteen-minute units
    out15 = engine.query(
        f"SELECT GAPFILL(date_trunc('HOUR', creationTimestamp__ts), "
        f"'15:MINUTES:EPOCH', '{start_15m}', '{end_15m}', '1:HOURS', "
        f"FILL(price, 'FILL_DEFAULT_VALUE')) AS tb, price "
        f"FROM kinesisTable WHERE campaign = 'B'"
    ).collect()
    assert {r["tb"].hour: r["price"] for r in out15} == vals

    # an all-digit literal under a SIMPLE_DATE_FORMAT format is a DATE
    # STRING, not an epoch count (round-6 review: the epoch branch used to
    # scale '20240601' by 86400 seconds -> ~year 57000, empty spine)
    out_sdf = engine.query(
        "SELECT GAPFILL(date_trunc('DAY', creationTimestamp__ts), "
        "'1:DAYS:SIMPLE_DATE_FORMAT:yyyyMMdd', '20240601', '20240603', "
        "'1:DAYS', FILL(price, 'FILL_DEFAULT_VALUE')) AS tb, price "
        "FROM kinesisTable WHERE campaign = 'B'"
    ).collect()
    # the literals parsed as 2024 dates (not epoch-scaled to ~year 57000):
    # day 1 keeps its two raw rows, days 2-3 are filled holes
    assert sorted((r["tb"].day, r["price"]) for r in out_sdf) == [
        (1, 5), (1, 7), (2, 0), (3, 0)
    ]
    assert all(r["tb"].year == 2024 for r in out_sdf)
    pipe.stop()


def test_sql_gapfill_validation(spark, tmp_path):
    import pytest as _pytest

    engine = Engine(spark, str(tmp_path / "warehouse"))
    spark.createDataFrame(
        [("2024-06-01 00:00:00", 1)], "ts string, v int"
    ).createOrReplaceTempView("gsrc")
    with _pytest.raises(ValueError, match="must be aliased"):
        engine.query(
            "SELECT GAPFILL(to_timestamp(ts), '1:HOURS:EPOCH', "
            "'2024-06-01 00:00:00', '2024-06-01 02:00:00', '1:HOURS'), v FROM gsrc"
        )
    with _pytest.raises(ValueError, match="bucket"):
        engine.query(
            "SELECT GAPFILL(to_timestamp(ts), '1:HOURS:EPOCH', "
            "'2024-06-01 00:00:00', '2024-06-01 02:00:00', 'WEEKLY') AS t, v FROM gsrc"
        )
    with _pytest.raises(ValueError, match="FILL mode"):
        engine.query(
            "SELECT GAPFILL(to_timestamp(ts), '1:HOURS:EPOCH', "
            "'2024-06-01 00:00:00', '2024-06-01 02:00:00', '1:HOURS', "
            "FILL(v, 'FILL_RANDOM')) AS t, v FROM gsrc"
        )


def test_sql_gapfill_tail_clauses_and_literal_safety(spark, tmp_path):
    """Round-5 review: ORDER BY / LIMIT after the gapfill source are honored
    (never silently dropped), 'SELECT GAPFILL(' inside a string literal is
    data, unsupported tail clauses fail loudly, and no temp view leaks."""
    import pytest as _pytest

    engine, pipe = _gapfill_engine(spark, tmp_path)
    base = (
        "SELECT GAPFILL(tb, '1:HOURS:EPOCH', '2024-06-01 00:00:00', "
        "'2024-06-01 04:00:00', '1:HOURS', FILL(rev, 'FILL_DEFAULT_VALUE'), "
        "TIMESERIESON(campaign)) AS tb, campaign, rev "
        "FROM (SELECT date_trunc('HOUR', creationTimestamp__ts) AS tb, "
        "campaign, sum(price) AS rev FROM kinesisTable GROUP BY 1, 2)"
    )
    limited = engine.query(base + " LIMIT 3").collect()
    assert len(limited) == 3
    ordered = engine.query(base + " ORDER BY rev DESC LIMIT 1").collect()
    assert len(ordered) == 1 and ordered[0]["rev"] == 50
    # a comment after the source is not a clause
    commented = engine.query(
        base + " /* top hour */ ORDER BY rev DESC LIMIT 1 -- one"
    ).collect()
    assert commented == ordered
    # a string literal containing the trigger text is untouched
    lit = engine.query("SELECT 'SELECT GAPFILL(x' AS s").collect()[0]["s"]
    assert lit == "SELECT GAPFILL(x"
    # unsupported trailing clause: loud, not silent
    with _pytest.raises(ValueError, match="unsupported clause"):
        engine.query(base + " t JOIN other ON 1=1")
    # no __gapfill temp views leak into the session catalog
    leaked = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__gapfill")
    ]
    assert leaked == []
    pipe.stop()


def test_sql_gapfill_inside_cte(spark, tmp_path):
    """The gapfill subquery splices back as (SELECT * FROM view), so a CTE
    enclosure stays valid SQL."""
    engine, pipe = _gapfill_engine(spark, tmp_path)
    out = engine.query(
        "WITH filled AS ("
        "SELECT GAPFILL(tb, '1:HOURS:EPOCH', '2024-06-01 00:00:00', "
        "'2024-06-01 04:00:00', '1:HOURS', FILL(rev, 'FILL_DEFAULT_VALUE'), "
        "TIMESERIESON(campaign)) AS tb, campaign, rev "
        "FROM (SELECT date_trunc('HOUR', creationTimestamp__ts) AS tb, "
        "campaign, sum(price) AS rev FROM kinesisTable GROUP BY 1, 2)"
        ") SELECT count(*) AS n FROM filled"
    ).collect()
    assert out[0]["n"] == 10
    pipe.stop()


def test_lookup_double_quoted_literal_untouched(spark, tmp_path):
    """Spark's default double-quoted string literals must not trigger the
    LOOKUP rewriter (round-5 review)."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    got = engine.query('SELECT "use LOOKUP(a) here" AS s').collect()[0]["s"]
    assert got == "use LOOKUP(a) here"


def test_dim_table_control_plane_surfaces(spark, tmp_path):
    """list_tables includes dimension tables AND the rest of the control
    plane handles them: detail reports the batch layout, retention no-ops,
    stream maintenance fails loudly instead of KeyError (round-5 review)."""
    import pytest as _pytest

    engine = Engine(spark, str(tmp_path / "warehouse"))
    engine.add_dim_table(
        DIM_SCHEMA, DIM_CONFIG,
        spark.createDataFrame(
            [("a", "o", 1)], "campaign string, owner string, discountPct int"
        ),
    )
    # every listed table must serve table_detail (the GET /tables -> detail
    # loop a console client runs)
    for t in engine.list_tables():
        detail = engine.table_detail(t)
        assert detail["table"] == t
    assert engine.table_detail("campaignDim")["type"] == "DIMENSION"
    assert engine.table_detail("campaignDim")["num_files"] >= 1
    assert engine.run_retention("campaignDim") == []
    with _pytest.raises(ValueError, match="dimension table"):
        engine.pause_consumption("campaignDim")
    with _pytest.raises(ValueError, match="dimension table"):
        engine.compact("campaignDim")
    # register_view refreshes the dim view instead of KeyError
    engine.register_view("campaignDim")
    assert spark.table("campaignDim").count() == 1


OFFLINE_CONFIG = {
    "tableName": "kinesisTable",
    "tableType": "OFFLINE",
    "segmentsConfig": {
        "timeColumnName": "creationTimestamp",
        "retentionTimeUnit": "DAYS",
        "retentionTimeValue": "7",
    },
}


def test_hybrid_table_time_boundary_merge(spark, tmp_path):
    """A hybrid table (one name, REALTIME + OFFLINE configs) serves the
    broker merge **[P1.2]**: OFFLINE rows at or before the time boundary
    (max offline day), REALTIME rows strictly after — overlap days present
    on both sides are never double-counted."""
    src_dir = tmp_path / "stream_in"
    # realtime side covers days 02 and 03 (day 02 overlaps offline)
    _write_events(src_dir / "rt.json", 10, "2024-06-02")
    _write_events(src_dir / "rt2.json", 10, "2024-06-03", start=100)
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    # offline side: sealed days 01 and 02 (20 + 7 rows)
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    seg1 = spark.createDataFrame(
        [(f"u{i}", "X", 5, f"2024-06-01 09:{i % 60:02d}:00") for i in range(20)],
        "userID string, campaign string, price int, creationTimestamp string",
    )
    seg2 = spark.createDataFrame(
        [(f"v{i}", "Y", 9, f"2024-06-02 09:{i % 60:02d}:00") for i in range(7)],
        "userID string, campaign string, price int, creationTimestamp string",
    )
    engine.upload_segment("kinesisTable", seg1)
    up = engine.upload_segment("kinesisTable", seg2)
    assert up["segments_partitions"] == [
        "ingest_date=2024-06-01", "ingest_date=2024-06-02"
    ]

    assert str(engine.hybrid_time_boundary("kinesisTable")) == "2024-06-02"
    engine.register_view("kinesisTable")
    # hybrid count: offline 27 (days 01+02) + realtime day 03 only (10) —
    # the 10 realtime rows of day 02 are behind the boundary
    total = engine.query("SELECT count(*) AS n FROM kinesisTable").collect()[0]["n"]
    assert total == 27 + 10
    per_day = {
        str(r["d"]): r["n"]
        for r in engine.query(
            "SELECT ingest_date AS d, count(*) AS n FROM kinesisTable GROUP BY 1"
        ).collect()
    }
    assert per_day == {"2024-06-01": 20, "2024-06-02": 7, "2024-06-03": 10}
    # side views for inspection
    assert spark.table("kinesisTable_offline").count() == 27
    assert spark.table("kinesisTable_realtime").count() == 20

    detail = engine.table_detail("kinesisTable")
    assert detail["type"] == "HYBRID"
    assert detail["offline_partitions"] == [
        "ingest_date=2024-06-01", "ingest_date=2024-06-02"
    ]
    assert "kinesisTable" in engine.list_tables()
    pipe.stop()


def test_offline_table_standalone_and_retention(spark, tmp_path):
    """OFFLINE-only table: view over batch segments, detail, and FS-layer
    retention dropping expired day partitions."""
    import pytest as _pytest

    engine = Engine(spark, str(tmp_path / "warehouse"))
    with _pytest.raises(ValueError, match="tableType"):
        engine.add_offline_table(CLICKSTREAM_SCHEMA, TABLE_CONFIG)
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    with _pytest.raises(ValueError, match="time column"):
        engine.upload_segment(
            "kinesisTable", spark.createDataFrame([("a",)], "userID string")
        )
    old = spark.createDataFrame(
        [("u1", "X", 5, "2024-01-01 09:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    )
    new = spark.createDataFrame(
        [("u2", "Y", 9, "2024-01-20 09:00:00"), ("u3", "Y", 9, "2024-01-20 10:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    )
    engine.upload_segment("kinesisTable", old)
    engine.upload_segment("kinesisTable", new)
    engine.register_view("kinesisTable")
    assert spark.table("kinesisTable").count() == 3
    assert engine.table_detail("kinesisTable")["type"] == "OFFLINE"
    # 7-day retention against the max offline day (2024-01-20)
    dropped = engine.run_retention("kinesisTable")
    assert dropped == ["2024-01-01"]
    engine.register_view("kinesisTable")
    assert spark.table("kinesisTable").count() == 2
    # stream maintenance on an OFFLINE table: loud, not KeyError
    with _pytest.raises(ValueError, match="OFFLINE table"):
        engine.pause_consumption("kinesisTable")


def test_lookup_over_hybrid_union_view(spark, tmp_path):
    """Round-5 review (critical): LOOKUP must work against a hybrid table's
    unionByName view — Spark 4.1's PushProjectionThroughUnion loses
    correlated-subquery attributes, so the engine plans LOOKUP statements
    with that rule excluded."""
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "rt.json", 9, "2024-06-02")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    engine.upload_segment(
        "kinesisTable",
        spark.createDataFrame(
            [("u1", "BlackFriday", 30, "2024-06-01 09:00:00")],
            "userID string, campaign string, price int, creationTimestamp string",
        ),
    )
    engine.register_view("kinesisTable")
    engine.add_dim_table(
        DIM_SCHEMA, DIM_CONFIG,
        spark.createDataFrame(
            [("BlackFriday", "alex", 25), ("10Percent", "sam", 10)],
            "campaign string, owner string, discountPct int",
        ),
    )
    rows = engine.query(
        "SELECT campaign, LOOKUP('campaignDim','owner','campaign', campaign) AS owner "
        "FROM kinesisTable"
    ).collect()
    assert len(rows) == 10  # 1 offline + 9 realtime (day 02 > boundary 01)
    owners = {r["campaign"]: r["owner"] for r in rows}
    assert owners["BlackFriday"] == "alex"
    # the exclusion is scoped to the statement: the conf is restored
    assert spark.conf.get("spark.sql.optimizer.excludedRules", None) is None
    pipe.stop()


def test_lookup_union_pushdown_window_is_thread_safe(spark, tmp_path):
    """Round-5 ADVICE (medium): the excludedRules conf window must be
    serialized — the broker is a ThreadingHTTPServer, and one request's
    finally-restore re-enabling PushProjectionThroughUnion mid-plan of
    another thread's LOOKUP-over-hybrid statement resurfaces the
    NoSuchElementException the exclusion exists to prevent.  Hammer the
    LOOKUP path from several threads; every plan must succeed and the conf
    must end restored."""
    import concurrent.futures as _fut

    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "rt.json", 9, "2024-06-02")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    engine.upload_segment(
        "kinesisTable",
        spark.createDataFrame(
            [("u1", "BlackFriday", 30, "2024-06-01 09:00:00")],
            "userID string, campaign string, price int, creationTimestamp string",
        ),
    )
    engine.register_view("kinesisTable")
    engine.add_dim_table(
        DIM_SCHEMA, DIM_CONFIG,
        spark.createDataFrame(
            [("BlackFriday", "alex", 25), ("10Percent", "sam", 10)],
            "campaign string, owner string, discountPct int",
        ),
    )
    sql = (
        "SELECT campaign, LOOKUP('campaignDim','owner','campaign', campaign) "
        "AS owner FROM kinesisTable"
    )

    def one(_i):
        return len(engine.query(sql).collect())

    with _fut.ThreadPoolExecutor(max_workers=8) as ex:
        counts = list(ex.map(one, range(16)))
    assert counts == [10] * 16
    assert spark.conf.get("spark.sql.optimizer.excludedRules", None) is None
    pipe.stop()


def test_hybrid_query_agg_serves_merged_scan(spark, tmp_path):
    """Round-5 review (critical): star-tree cells cover only the stream —
    query_agg/query_routed on a hybrid table must serve the boundary-merged
    scan, not route to a realtime-only rollup."""
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "rt.json", 10, "2024-06-02")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    st_config = dict(TABLE_CONFIG)
    st_config = json.loads(json.dumps(TABLE_CONFIG))
    st_config["tableIndexConfig"]["starTreeIndexConfigs"] = [
        {
            "dimensionsSplitOrder": ["campaign", "ingest_date"],
            "functionColumnPairs": ["COUNT__price", "SUM__price"],
        }
    ]
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, st_config,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    engine.upload_segment(
        "kinesisTable",
        spark.createDataFrame(
            [("u1", "X", 30, "2024-06-01 09:00:00"),
             ("u2", "X", 40, "2024-06-01 10:00:00")],
            "userID string, campaign string, price int, creationTimestamp string",
        ),
    )
    engine.register_view("kinesisTable")
    out, route = engine.query_routed(
        "SELECT campaign, count(price) AS n FROM kinesisTable GROUP BY campaign"
    )
    assert sum(r["n"] for r in out.collect()) == 12  # 2 offline + 10 realtime
    assert route != "rollup:startree"
    pipe.stop()


def test_offline_table_empty_before_upload(spark, tmp_path):
    """A just-added OFFLINE table answers as empty (Pinot AddTable), not a
    PATH_NOT_FOUND error; boundary is None; uploads then appear."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    engine.register_view("kinesisTable")
    assert spark.table("kinesisTable").count() == 0
    assert engine.hybrid_time_boundary("kinesisTable") is None
    assert engine.run_retention("kinesisTable") == []
    import pytest as _pytest
    with _pytest.raises(ValueError, match="OFFLINE table"):
        engine.resume_consumption("kinesisTable")
    with _pytest.raises(KeyError):
        engine.run_retention("noSuchTable")


def test_table_kind_name_collisions_rejected(spark, tmp_path):
    import pytest as _pytest

    engine = Engine(spark, str(tmp_path / "warehouse"))
    engine.add_dim_table(
        DIM_SCHEMA, DIM_CONFIG,
        spark.createDataFrame(
            [("a", "o", 1)], "campaign string, owner string, discountPct int"
        ),
    )
    # realtime over a dim name: rejected, stream must not clobber the dim
    with _pytest.raises(ValueError, match="already a dimension table"):
        engine.add_table(
            CLICKSTREAM_SCHEMA,
            {**TABLE_CONFIG, "tableName": "campaignDim"},
            RawRecordSource(kind="files", path=str(tmp_path / "nope")),
            start=False,
        )
    with _pytest.raises(ValueError, match="already a dimension table"):
        engine.add_offline_table(
            CLICKSTREAM_SCHEMA,
            {**OFFLINE_CONFIG, "tableName": "campaignDim"},
        )
    # duplicate primary keys rejected at dim load (Pinot's unique-pk rule)
    with _pytest.raises(ValueError, match="duplicate"):
        engine.add_dim_table(
            {**DIM_SCHEMA, "schemaName": "dupDim"},
            {**DIM_CONFIG, "tableName": "dupDim"},
            spark.createDataFrame(
                [("a", "o", 1), ("a", "p", 2)],
                "campaign string, owner string, discountPct int",
            ),
        )


def test_scanner_backslash_escaped_literals(spark, tmp_path):
    """Literals with backslash-escaped quotes must stay opaque to the
    LOOKUP/GAPFILL/OPTION scanners (round-5 review)."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    got = engine.query(r"SELECT 'don\'t LOOKUP(a,b) now' AS s").collect()[0]["s"]
    assert got == "don't LOOKUP(a,b) now"
    got = engine.query(r"SELECT 'a \'SELECT GAPFILL(x\' b' AS s").collect()[0]["s"]
    assert got == "a 'SELECT GAPFILL(x' b"


def test_sql_gapfill_explicit_bounds_survive_empty_source(spark, tmp_path):
    """Explicit bounds generate the spine even when the filtered source is
    empty (Pinot's explicit-bounds rule); epoch-hours bounds scale by the
    declared unit."""
    engine, pipe = _gapfill_engine(spark, tmp_path)
    out = engine.query(
        "SELECT GAPFILL(date_trunc('HOUR', creationTimestamp__ts), "
        "'1:HOURS:EPOCH', '477000', '477004', '1:HOURS', "
        "FILL(price, 'FILL_DEFAULT_VALUE')) AS tb, price "
        "FROM kinesisTable WHERE campaign = 'NOPE'"
    ).collect()
    assert len(out) == 5  # hours 477000..477004 since epoch
    assert all(r["price"] == 0 for r in out)
    ts0 = out[0]["tb"]
    assert (ts0.year, ts0.month) == (2024, 6)  # 477000h ≈ 2024-06
    pipe.stop()


def test_hybrid_star_tree_routes_to_merged_cells(spark, tmp_path):
    """Hybrid aggregation routes to the boundary-consistent MERGED cell
    relation (offline cells appended per upload + realtime cells past the
    boundary) and matches the raw merged scan value-for-value; uploads
    predating the REALTIME config leave the cell log incomplete and
    routing falls back to scan."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.rollup import AggRequest

    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "rt.json", 10, "2024-06-02")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    st_config = json.loads(json.dumps(TABLE_CONFIG))
    st_config["tableIndexConfig"]["starTreeIndexConfigs"] = [
        {
            "dimensionsSplitOrder": ["campaign", "ingest_date"],
            "functionColumnPairs": ["COUNT__price", "SUM__price"],
        }
    ]
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    seg = spark.createDataFrame(
        [("u1", "X", 30, "2024-06-01 09:00:00"),
         ("u2", "X", 40, "2024-06-01 10:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    )
    # upload BEFORE the realtime config exists: no cells for this segment
    engine.upload_segment("kinesisTable", seg)
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, st_config,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    req = AggRequest(dims=("campaign",), aggs={"n": ("count", "price"), "rev": ("sum", "price")})
    out, route = engine.query_agg("kinesisTable", req)
    assert route == "scan"  # incomplete cell log -> never route
    scan_vals = {r["campaign"]: (r["n"], r["rev"]) for r in out.collect()}
    assert sum(n for n, _ in scan_vals.values()) == 12

    # a second upload (post-config) appends its cells, but day-01 remains
    # cell-less: still scan
    seg2 = spark.createDataFrame(
        [("u3", "Y", 5, "2024-05-31 09:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    )
    engine.upload_segment("kinesisTable", seg2)
    _, route = engine.query_agg("kinesisTable", req)
    assert route == "scan"

    # rebuild the missing day's cells (re-upload day-01 into a FRESH
    # engine state: simplest is a new table dir) — here, complete the log
    # by uploading the same day again is wrong (duplicates); instead prove
    # the routed path on a cleanly-built table:
    engine2 = Engine(spark, str(tmp_path / "warehouse2"))
    src2 = tmp_path / "stream_in2"
    _write_events(src2 / "rt.json", 10, "2024-06-02")
    pipe2 = engine2.add_table(
        CLICKSTREAM_SCHEMA, st_config,
        RawRecordSource(kind="files", path=str(src2)), available_now=True,
    )
    pipe2.process_available()
    engine2.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    engine2.upload_segment("kinesisTable", seg)
    engine2.upload_segment("kinesisTable", seg2)
    out2, route2 = engine2.query_agg("kinesisTable", req)
    assert route2 == "rollup:hybrid_startree0"
    routed_vals = {r["campaign"]: (r["n"], r["rev"]) for r in out2.collect()}
    # 2 X-rows + 1 Y-row offline; all 10 realtime rows lie past the
    # boundary (max offline day 2024-06-01 < day 02), so nothing is
    # dropped or double-served
    assert routed_vals["X"] == (2, 70)
    assert routed_vals["Y"] == (1, 5)
    assert sum(n for n, _ in routed_vals.values()) == 13
    # value parity: the routed answer equals the merged raw scan
    engine2.register_view("kinesisTable")
    raw = {
        r["campaign"]: (r["n"], r["rev"])
        for r in spark.sql(
            "SELECT campaign, count(price) AS n, sum(price) AS rev "
            "FROM kinesisTable GROUP BY campaign"
        ).collect()
    }
    assert routed_vals == raw
    pipe.stop()
    pipe2.stop()


def test_hybrid_offline_cell_retention(spark, tmp_path):
    """run_retention expires offline star-tree cell partitions with their
    day — stale cells must not resurrect deleted data through routing."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.rollup import AggRequest

    engine = Engine(spark, str(tmp_path / "warehouse"))
    st_config = json.loads(json.dumps(TABLE_CONFIG))
    st_config["tableIndexConfig"]["starTreeIndexConfigs"] = [
        {
            "dimensionsSplitOrder": ["campaign", "ingest_date"],
            "functionColumnPairs": ["COUNT__price", "SUM__price"],
        }
    ]
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "rt.json", 5, "2024-01-21")
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, st_config,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    engine.upload_segment("kinesisTable", spark.createDataFrame(
        [("u1", "X", 30, "2024-01-01 09:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    ))
    engine.upload_segment("kinesisTable", spark.createDataFrame(
        [("u2", "Y", 9, "2024-01-20 09:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    ))
    cells_root = engine._offline_rollup_path("kinesisTable", 0)
    assert (Path(cells_root) / "ingest_date=2024-01-01").exists()
    dropped = engine.run_retention("kinesisTable")
    assert "2024-01-01" in dropped
    # both the data partition AND its cells are gone
    assert not (Path(engine._offline_path("kinesisTable")) / "ingest_date=2024-01-01").exists()
    assert not (Path(cells_root) / "ingest_date=2024-01-01").exists()
    # post-retention routing still answers consistently (no resurrected X)
    out, route = engine.query_agg(
        "kinesisTable",
        AggRequest(dims=("campaign",), aggs={"rev": ("sum", "price")}),
    )
    vals = {r["campaign"]: r["rev"] for r in out.collect()}
    assert "X" not in vals
    pipe.stop()


def test_offline_segments_compact(spark, tmp_path):
    """Each upload leaves one file per day; compact() merges OFFLINE day
    partitions (and their star-tree cells) with the same swap protocol."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    for i in range(3):  # 3 uploads -> >= 3 files in the same day partition
        engine.upload_segment("kinesisTable", spark.createDataFrame(
            [(f"u{i}", "X", 10 + i, "2024-06-01 09:00:00")],
            "userID string, campaign string, price int, creationTimestamp string",
        ))
    part = Path(engine._offline_path("kinesisTable")) / "ingest_date=2024-06-01"
    before = len(list(part.glob("*.parquet")))
    assert before >= 3
    report = engine.compact("kinesisTable")
    assert report["compacted_partitions"].get("offline:ingest_date=2024-06-01") == before
    after = len(list(part.glob("*.parquet")))
    assert after == 1
    engine.register_view("kinesisTable")
    assert spark.table("kinesisTable").count() == 3  # nothing lost


def _st_config():
    cfg = json.loads(json.dumps(TABLE_CONFIG))
    cfg["tableIndexConfig"]["starTreeIndexConfigs"] = [
        {
            "dimensionsSplitOrder": ["campaign", "ingest_date"],
            "functionColumnPairs": ["COUNT__price", "SUM__price"],
        }
    ]
    return cfg


def test_hybrid_fresh_table_query_agg_no_crash(spark, tmp_path):
    """A hybrid table with star-trees but ZERO uploads and ZERO committed
    micro-batches (the normal state before the first nightly batch) must
    answer a covered aggregate with an empty result, not PATH_NOT_FOUND."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.rollup import AggRequest

    src_dir = tmp_path / "stream_in"
    src_dir.mkdir()
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, _st_config(),
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    req = AggRequest(dims=("campaign",), aggs={"rev": ("sum", "price")})
    out, route = engine.query_agg("kinesisTable", req)
    assert out.count() == 0
    assert set(out.columns) == {"campaign", "rev"}
    pipe.stop()


def test_hybrid_mixed_coverage_day_never_routes(spark, tmp_path):
    """A day holding BOTH a pre-config (cell-less) and a post-config upload
    passes a day-set comparison but NOT the per-upload manifest: routing
    must fall back to scan, and the aggregate must count every row."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.rollup import AggRequest

    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "rt.json", 4, "2024-06-02")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    engine.upload_segment("kinesisTable", spark.createDataFrame(
        [("u1", "X", 30, "2024-06-01 09:00:00"),
         ("u2", "X", 40, "2024-06-01 10:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    ))  # BEFORE the realtime config: no cells
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, _st_config(),
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.upload_segment("kinesisTable", spark.createDataFrame(
        [("u3", "X", 1, "2024-06-01 11:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    ))  # SAME day, post-config: cells cover only this segment
    req = AggRequest(dims=("campaign",), aggs={"n": ("count", "price"), "rev": ("sum", "price")})
    out, route = engine.query_agg("kinesisTable", req)
    assert route == "scan"
    vals = {r["campaign"]: (r["n"], r["rev"]) for r in out.collect()}
    assert vals["X"] == (3, 71)  # all three offline X-rows present

    # rebuild_offline_rollup recomputes cells from the segments and resets
    # the manifest; routing resumes with exact parity
    report = engine.rebuild_offline_rollup("kinesisTable")
    assert report["rebuilt_cells"]["offline_startree0"] >= 1
    out2, route2 = engine.query_agg("kinesisTable", req)
    assert route2 == "rollup:hybrid_startree0"
    assert {r["campaign"]: (r["n"], r["rev"]) for r in out2.collect()} == vals
    pipe.stop()


def test_hybrid_routing_without_realtime_batches(spark, tmp_path):
    """Post-config uploads with a realtime stream that has committed no
    micro-batch yet: the realtime cell log does not exist, and routing
    must serve the offline cells instead of raising."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.rollup import AggRequest

    src_dir = tmp_path / "stream_in"
    src_dir.mkdir()
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, _st_config(),
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    engine.upload_segment("kinesisTable", spark.createDataFrame(
        [("u1", "X", 30, "2024-06-01 09:00:00"),
         ("u2", "Y", 40, "2024-06-01 10:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    ))
    req = AggRequest(dims=("campaign",), aggs={"rev": ("sum", "price")})
    out, route = engine.query_agg("kinesisTable", req)
    assert route == "rollup:hybrid_startree0"
    assert {r["campaign"]: r["rev"] for r in out.collect()} == {"X": 30, "Y": 40}
    pipe.stop()


def test_timestamp_index_materializes_and_rewrites(spark, tmp_path):
    """fieldConfigList indexTypes TIMESTAMP + timestampConfig granularities
    **[P1.2]**: ingest materializes <col>__<gran> truncated columns (the
    $col$GRAN analogs) and query() rewrites dateTrunc('GRAN', col) to read
    them — the truncation is stored, not computed per row, and range
    filters on it prune via parquet stats like Pinot's range index."""
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "a.json", 12, "2024-06-01")
    _write_events(src_dir / "b.json", 6, "2024-06-02", start=100)
    cfg = json.loads(json.dumps(TABLE_CONFIG))
    cfg["fieldConfigList"] = [
        {
            "name": "creationTimestamp",
            "indexTypes": ["TIMESTAMP"],
            "timestampConfig": {"granularities": ["DAY", "MONTH"]},
        }
    ]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, cfg,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.register_view("kinesisTable")
    cols = spark.table("kinesisTable").columns
    assert "creationTimestamp__day" in cols and "creationTimestamp__month" in cols

    # rewrite fires: the plan reads the derived column, no date_trunc node
    sql = ("SELECT dateTrunc('DAY', creationTimestamp__ts) AS d, sum(price) AS rev "
           "FROM kinesisTable GROUP BY dateTrunc('DAY', creationTimestamp__ts)")
    df = engine.query(sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "date_trunc" not in plan.lower()
    assert "creationTimestamp__day" in plan
    # and answers exactly what the unrewritten form answers
    expect = {
        r["d"]: r["rev"]
        for r in spark.sql(sql.replace("dateTrunc", "date_trunc")).collect()
    }
    assert {r["d"]: r["rev"] for r in df.collect()} == expect
    assert len(expect) == 2

    # a range filter on the rewritten expression pushes to the scan
    fplan = engine.query(
        "SELECT count(*) AS n FROM kinesisTable "
        "WHERE dateTrunc('DAY', creationTimestamp__ts) >= TIMESTAMP '2024-06-02 00:00:00'"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in fplan and "creationTimestamp__day" in fplan

    # an UNDECLARED granularity is untouched (still answers, computed form)
    wk = engine.query(
        "SELECT dateTrunc('WEEK', creationTimestamp__ts) AS w, count(*) AS n "
        "FROM kinesisTable GROUP BY 1"
    )
    assert wk.count() >= 1
    pipe.stop()


@pytest.mark.parametrize("realtime_first", [True, False])
def test_empty_offline_side_has_every_stored_column(spark, tmp_path, realtime_first):
    """Before its first upload the OFFLINE side already has every column
    that upload stores, in either AddTable order: a TIMESTAMP index and a
    CLP column declared on the REALTIME config alone reach both sides."""
    cfg = json.loads(json.dumps(TABLE_CONFIG))
    cfg["fieldConfigList"] = [
        {
            "name": "creationTimestamp",
            "indexTypes": ["TIMESTAMP"],
            "timestampConfig": {"granularities": ["DAY"]},
        },
        {"name": "campaign", "encodingType": "RAW", "compressionCodec": "CLP"},
    ]
    src_dir = tmp_path / "stream_in"
    src_dir.mkdir()
    engine = Engine(spark, str(tmp_path / "warehouse"))
    steps = [
        lambda: engine.add_table(
            CLICKSTREAM_SCHEMA, cfg,
            RawRecordSource(kind="files", path=str(src_dir)), start=False,
        ),
        lambda: engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG),
    ]
    for step in steps if realtime_first else steps[::-1]:
        step()
    empty = set(engine._offline_frame("kinesisTable").columns)
    engine.upload_segment("kinesisTable", spark.createDataFrame(
        [("u1", "X", 30, "2024-06-01 09:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    ))
    stored = set(engine._offline_frame("kinesisTable").columns)
    assert {
        "creationTimestamp__day",
        "campaign_logtype",
        "campaign_dictionaryVars",
        "campaign_encodedVars",
    } <= stored
    assert stored <= empty
    assert "campaign" not in empty


def test_offline_cell_logs_at_any_index_go_with_the_side(spark, tmp_path):
    """delete_segments and drop_table remove every OFFLINE star-tree cell
    log whatever its index: one can outlive its spec after a config edit."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    stray = Path(engine._offline_rollup_path("kinesisTable", 9))
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    spark.range(1).write.parquet(str(stray))
    assert engine.delete_segments("kinesisTable", "OFFLINE")["deleted"] == ["OFFLINE"]
    assert not stray.exists()
    spark.range(1).write.parquet(str(stray))
    assert engine.drop_table("kinesisTable")["dropped"] == ["OFFLINE"]
    assert not stray.exists()


def test_timestamp_index_hybrid_upload_parity(spark, tmp_path):
    """Hybrid: upload_segment stores the same derived columns the realtime
    decode writes, so the boundary union serves one schema and the rewrite
    stays correct across both sides."""
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "rt.json", 4, "2024-06-02")
    cfg = json.loads(json.dumps(TABLE_CONFIG))
    cfg["fieldConfigList"] = [
        {
            "name": "creationTimestamp",
            "indexTypes": ["TIMESTAMP"],
            "timestampConfig": {"granularities": ["DAY"]},
        }
    ]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, cfg,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    engine.upload_segment("kinesisTable", spark.createDataFrame(
        [("u1", "X", 30, "2024-06-01 09:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    ))
    engine.register_view("kinesisTable")
    q = engine.query(
        "SELECT dateTrunc('DAY', creationTimestamp__ts) AS d, count(*) AS n "
        "FROM kinesisTable GROUP BY 1 ORDER BY 1"
    )
    # only the REALTIME config declares the index here, so the rewrite must
    # NOT fire: offline segments uploaded before the realtime AddTable
    # would read NULL for the derived column (the silent-wrong-groups hole)
    # — hybrid rewrites require BOTH configs to declare the granularity
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "date_trunc" in plan.lower()
    days = {str(r["d"]): r["n"] for r in q.collect()}
    assert days == {"2024-06-01 00:00:00": 1, "2024-06-02 00:00:00": 4}
    pipe.stop()


def test_realtime_to_offline_task(spark, tmp_path):
    """Pinot RealtimeToOfflineSegmentsTask analog: sealed realtime days
    move into the OFFLINE side (segments + star-tree cells + manifest),
    the boundary advances, total served rows never change, and hybrid
    aggregate routing stays value-correct."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.rollup import AggRequest

    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "d1.json", 6, "2024-06-01")
    _write_events(src_dir / "d2.json", 4, "2024-06-02", start=100)
    _write_events(src_dir / "d3.json", 2, "2024-06-03", start=200)
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, _st_config(),
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    engine.register_view("kinesisTable")
    before = spark.table("kinesisTable").count()
    assert before == 12

    report = engine.realtime_to_offline("kinesisTable")  # default: < newest day
    assert report["moved_days"] == ["2024-06-01", "2024-06-02"]
    assert report["rows_moved"] == 10
    # realtime store now holds only the consuming day
    rt_parts = sorted(
        p.name for p in Path(pipe.table_path).glob("ingest_date=*") if p.is_dir()
    )
    assert rt_parts == ["ingest_date=2024-06-03"]
    # the hybrid view serves the same rows, boundary moved to 06-02
    engine.register_view("kinesisTable")
    assert spark.table("kinesisTable").count() == before
    assert str(engine.hybrid_time_boundary("kinesisTable")) == "2024-06-02"

    # moved days became first-class OFFLINE segments: cells + manifest
    # appended by upload_segment, so hybrid agg routing still fires and
    # matches the raw scan
    req = AggRequest(dims=("campaign",), aggs={"n": ("count", "price"), "rev": ("sum", "price")})
    out, route = engine.query_agg("kinesisTable", req)
    assert route == "rollup:hybrid_startree0"
    routed = {r["campaign"]: (r["n"], r["rev"]) for r in out.collect()}
    raw = {
        r["campaign"]: (r["n"], r["rev"])
        for r in spark.sql(
            "SELECT campaign, count(price) AS n, sum(price) AS rev "
            "FROM kinesisTable GROUP BY campaign"
        ).collect()
    }
    assert routed == raw
    assert sum(n for n, _ in routed.values()) == 12

    # idempotent: nothing left below the newest day that isn't offline
    again = engine.realtime_to_offline("kinesisTable")
    assert again["moved_days"] == []

    # explicit cutoff can move EVERYTHING (e.g. decommissioning the
    # stream); the emptied realtime store (only _SUCCESS markers left)
    # must read as an empty typed frame, not a schema-inference error
    final = engine.realtime_to_offline("kinesisTable", cutoff_day="2024-06-03")
    assert final["moved_days"] == ["2024-06-03"]
    engine.register_view("kinesisTable")
    assert spark.table("kinesisTable").count() == before
    assert spark.table("kinesisTable_realtime").count() == 0
    pipe.stop()


def test_realtime_to_offline_refuses_upsert_tables(spark, tmp_path):
    """The raw realtime log of an upsert table holds superseded versions the
    query-time resolution hides; moving it into the unresolved OFFLINE
    store would resurrect them — refused, like Pinot."""
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "d1.json", 3, "2024-06-01")
    cfg = json.loads(json.dumps(TABLE_CONFIG))
    cfg["upsertConfig"] = {"mode": "FULL"}
    cfg["primaryKeyColumns"] = ["userID"]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, cfg,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    pipe.stop()
    with pytest.raises(ValueError, match="upsert"):
        engine.realtime_to_offline("kinesisTable", cutoff_day="2024-06-01")


def test_ts_rewrite_cross_table_poisoning(spark, tmp_path):
    """A (col, gran) PARTIALLY materialized on one table poisons the key
    globally: another table's fully-materialized declaration of the same
    column name must not re-arm the rewrite (the analysis probe passes on
    the partial table — its hybrid union surfaces the column with NULLs)."""
    src_a = tmp_path / "in_a"
    src_b = tmp_path / "in_b"
    _write_events(src_a / "a.json", 3, "2024-06-02")
    _write_events(src_b / "b.json", 3, "2024-06-02")
    ts_fc = [{
        "name": "creationTimestamp",
        "indexTypes": ["TIMESTAMP"],
        "timestampConfig": {"granularities": ["DAY"]},
    }]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    # table A: realtime-only, fully materialized -> alone it would rewrite
    cfg_a = json.loads(json.dumps(TABLE_CONFIG))
    cfg_a["tableName"] = "tblA"
    cfg_a["fieldConfigList"] = ts_fc
    pipe_a = engine.add_table(
        CLICKSTREAM_SCHEMA, cfg_a,
        RawRecordSource(kind="files", path=str(src_a)), available_now=True,
    )
    pipe_a.process_available()
    engine.register_view("tblA")
    # table B: hybrid with the index on the REALTIME config only — the
    # pre-AddTable upload below has no derived column (the NULL hole)
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)  # kinesisTable
    engine.upload_segment("kinesisTable", spark.createDataFrame(
        [("u1", "X", 30, "2024-06-01 09:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    ))
    cfg_b = json.loads(json.dumps(TABLE_CONFIG))
    cfg_b["fieldConfigList"] = ts_fc
    pipe_b = engine.add_table(
        CLICKSTREAM_SCHEMA, cfg_b,
        RawRecordSource(kind="files", path=str(src_b)), available_now=True,
    )
    pipe_b.process_available()
    engine.register_view("kinesisTable")
    q = engine.query(
        "SELECT dateTrunc('DAY', creationTimestamp__ts) AS d, count(*) AS n "
        "FROM kinesisTable GROUP BY 1"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "date_trunc" in plan.lower()  # poisoned key -> computed, not read
    days = {str(r["d"]): r["n"] for r in q.collect()}
    assert days == {"2024-06-01 00:00:00": 1, "2024-06-02 00:00:00": 3}
    pipe_a.stop()
    pipe_b.stop()


def test_ts_rewrite_never_probes_commands(spark, tmp_path, monkeypatch):
    """A WITH-prefixed COMMAND passes the prefix gate but must never reach
    the analysis probe — spark.sql() executes commands eagerly, so probing
    an INSERT would run it twice.  Literal 'INSERT' text stays rewritable."""
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "a.json", 3, "2024-06-02")
    cfg = json.loads(json.dumps(TABLE_CONFIG))
    cfg["fieldConfigList"] = [{
        "name": "creationTimestamp",
        "indexTypes": ["TIMESTAMP"],
        "timestampConfig": {"granularities": ["DAY"]},
    }]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, cfg,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.register_view("kinesisTable")
    cmd = ("WITH src AS (SELECT 1 AS x) INSERT INTO tgt "
           "SELECT dateTrunc('DAY', creationTimestamp__ts) FROM kinesisTable")
    calls = []
    real_sql = spark.sql
    monkeypatch.setattr(spark, "sql", lambda s, *a, **k: calls.append(s) or real_sql(s, *a, **k))
    out = engine._apply_ts_index_rewrite(cmd)
    assert out == cmd and calls == []  # gate returns before any probe
    # but 'INSERT' INSIDE a literal does not disarm the rewrite
    sel = ("SELECT dateTrunc('DAY', creationTimestamp__ts) AS d, 'INSERT' AS lit "
           "FROM kinesisTable GROUP BY 1")
    out2 = engine._apply_ts_index_rewrite(sel)
    assert "creationTimestamp__day" in out2
    pipe.stop()


def test_upsert_compaction_task(spark, tmp_path):
    """Pinot UpsertCompactionTask analog: the raw log rewrites to its
    resolved view — superseded versions and tombstoned keys physically
    drop, resolution answers identically, and a future version of a
    compacted key still wins over the materialized row."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "compactUp"
    config["upsertConfig"] = {"mode": "FULL", "deleteRecordColumn": "deleted"}
    schema = _json.loads(_json.dumps(CLICKSTREAM_SCHEMA))
    schema["primaryKeyColumns"] = ["userID"]
    schema["dimensionFieldSpecs"] = list(schema["dimensionFieldSpecs"]) + [
        {"name": "deleted", "dataType": "BOOLEAN"}
    ]
    engine = Engine(spark, str(tmp_path / "warehouse"))

    def put(name, rows):
        src_dir.mkdir(parents=True, exist_ok=True)
        (src_dir / name).write_text("\n".join(_json.dumps(r) for r in rows))

    def row(uid, price, t, deleted=False):
        return {"userID": uid, "campaign": "c", "price": price, "deleted": deleted,
                "creationTimestamp": f"2024-06-01 {t}"}

    put("b1.json", [row("u1", 10, "10:00:00"), row("u2", 20, "10:00:01"),
                    row("u3", 30, "10:00:02")])
    pipe = engine.add_table(schema, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    pipe.process_available()
    put("b2.json", [row("u1", 11, "10:04:00"),       # supersedes u1
                    row("u3", 0, "10:05:00", True)])  # tombstones u3
    pipe.process_available()
    engine.register_view("compactUp")
    before = {r["userID"]: r["price"]
              for r in engine.query("SELECT userID, price FROM compactUp").collect()}
    assert before == {"u1": 11, "u2": 20}
    pipe.stop()

    report = engine.upsert_compact("compactUp")
    assert report["rows_before"] == 5 and report["rows_after"] == 2
    engine.register_view("compactUp")
    after = {r["userID"]: r["price"]
             for r in engine.query("SELECT userID, price FROM compactUp").collect()}
    assert after == before  # resolution unchanged
    assert engine.query("SELECT count(*) AS n FROM compactUp_raw").collect()[0]["n"] == 2

    # a future version still supersedes the materialized row
    put("b3.json", [row("u1", 99, "12:00:00")])
    pipe2 = engine.add_table(schema, config,
                             RawRecordSource(kind="files", path=str(src_dir)),
                             available_now=True)
    pipe2.process_available()
    engine.register_view("compactUp")
    final = {r["userID"]: r["price"]
             for r in engine.query("SELECT userID, price FROM compactUp").collect()}
    assert final == {"u1": 99, "u2": 20}
    pipe2.stop()

    # non-upsert tables are refused (compact() is the small-file tool)
    eng2 = Engine(spark, str(tmp_path / "wh3"))
    src2 = tmp_path / "in2"
    _write_events(src2 / "a.json", 1, "2024-06-01")
    p2 = eng2.add_table(CLICKSTREAM_SCHEMA, dict(TABLE_CONFIG),
                        RawRecordSource(kind="files", path=str(src2)),
                        available_now=True)
    p2.process_available()
    p2.stop()
    with pytest.raises(ValueError, match="not an upsert"):
        eng2.upsert_compact("kinesisTable")


# -- nullHandlingEnabled / enableNullHandling (Pinot null semantics) ----------


NULLFILL_SCHEMA = {
    "schemaName": "nullfillTable",
    "dimensionFieldSpecs": [
        {"name": "userID", "dataType": "STRING"},
        {"name": "region", "dataType": "STRING"},
        {"name": "slot", "dataType": "INT"},
        {"name": "campaign", "dataType": "STRING", "defaultNullValue": "NONE"},
    ],
    "metricFieldSpecs": [{"name": "price", "dataType": "DOUBLE"}],
    "dateTimeFieldSpecs": [
        {
            "name": "creationTimestamp",
            "dataType": "STRING",
            "format": "SIMPLE_DATE_FORMAT|yyyy-MM-dd HH:mm:ss",
            "granularity": "1:DAYS",
        }
    ],
}


def _write_nullfill_events(path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    rows = [
        {"userID": "u1", "region": "eu", "slot": 4, "campaign": "BF",
         "price": 9.5, "creationTimestamp": "2024-06-01 10:00:00"},
        # region/slot/campaign/price all absent
        {"userID": "u2", "creationTimestamp": "2024-06-01 10:01:00"},
    ]
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def test_null_handling_disabled_fills_pinot_type_defaults(spark, tmp_path):
    """tableIndexConfig.nullHandlingEnabled=false **[P1.2]**: Pinot's
    storage without null bitmaps — undeclared-default fields land as the
    silent type-default matrix (STRING 'null', INT dim Integer.MIN_VALUE,
    DOUBLE metric 0.0); a DECLARED defaultNullValue still wins."""
    src_dir = tmp_path / "stream_in"
    _write_nullfill_events(src_dir / "a.json")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    cfg = {
        "tableName": "nullfillTable",
        "tableType": "REALTIME",
        "segmentsConfig": {"timeColumnName": "creationTimestamp"},
        "tableIndexConfig": {
            "nullHandlingEnabled": False,
            "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        },
    }
    assert TableConfig.parse(cfg).null_handling_enabled is False
    # absent key defaults to the ENGINE default: null-native (True)
    assert TableConfig.parse(TABLE_CONFIG).null_handling_enabled is True
    pipe = engine.add_table(
        NULLFILL_SCHEMA, cfg,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    try:
        pipe.process_available()
        engine.register_view("nullfillTable")
        row = {
            r["userID"]: r
            for r in engine.query("SELECT * FROM nullfillTable").collect()
        }
        assert row["u1"]["region"] == "eu" and row["u1"]["slot"] == 4
        assert row["u2"]["region"] == "null"          # STRING dim sentinel
        assert row["u2"]["slot"] == -(2**31)           # INT dim sentinel
        assert row["u2"]["price"] == 0.0               # DOUBLE metric zero
        assert row["u2"]["campaign"] == "NONE"         # declared default wins
        assert (
            engine.query(
                "SELECT count(*) AS n FROM nullfillTable WHERE region IS NULL"
            ).collect()[0]["n"]
            == 0
        )
    finally:
        pipe.stop()


def test_enable_null_handling_false_query_option(spark, tmp_path):
    """Query option enableNullHandling=false **[P1.2]** over a null-native
    table: IS NULL matches nothing and undeclared-default fields read as
    the Pinot sentinels — while the same table without the option serves
    real SQL nulls (the engine's documented default, inverse of Pinot's)."""
    src_dir = tmp_path / "stream_in"
    _write_nullfill_events(src_dir / "a.json")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    cfg = {
        "tableName": "nullfillTable",
        "tableType": "REALTIME",
        "segmentsConfig": {"timeColumnName": "creationTimestamp"},
        "tableIndexConfig": {
            "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        },
    }
    pipe = engine.add_table(
        NULLFILL_SCHEMA, cfg,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    try:
        pipe.process_available()
        engine.register_view("nullfillTable")
        # default: null-native storage serves real nulls
        assert (
            engine.query(
                "SELECT count(*) AS n FROM nullfillTable WHERE region IS NULL"
            ).collect()[0]["n"]
            == 1
        )
        got = {
            r["userID"]: r
            for r in engine.query(
                "SET enableNullHandling=false; SELECT * FROM nullfillTable"
            ).collect()
        }
        assert got["u2"]["region"] == "null" and got["u2"]["slot"] == -(2**31)
        assert got["u2"]["price"] == 0.0
        assert got["u1"]["region"] == "eu"            # real values untouched
        assert (
            engine.query(
                "SET enableNullHandling=false; "
                "SELECT count(*) AS n FROM nullfillTable WHERE region IS NULL"
            ).collect()[0]["n"]
            == 0
        )
        # the OPTION form and aggregate-over-sentinels both work
        assert engine.query(
            "SELECT min(slot) AS m FROM nullfillTable "
            "OPTION(enableNullHandling=false)"
        ).collect()[0]["m"] == -(2**31)
        # true (or absent) is the no-op path
        assert (
            engine.query(
                "SET enableNullHandling=true; SELECT count(*) AS n "
                "FROM nullfillTable WHERE region IS NULL"
            ).collect()[0]["n"]
            == 1
        )
        # an ALIASED reference still rewrites (round-6 review: the inline
        # subselect must carry the user's alias, not fight it)
        assert (
            engine.query(
                "SET enableNullHandling=false; SELECT count(*) AS n "
                "FROM nullfillTable t WHERE t.region IS NULL"
            ).collect()[0]["n"]
            == 0
        )
        assert (
            engine.query(
                "SET enableNullHandling=false; SELECT count(*) AS n "
                "FROM nullfillTable AS x WHERE x.slot = -2147483648"
            ).collect()[0]["n"]
            == 1
        )
        for q in (
            "SELECT count(*) AS n FROM /* c */ nullfillTable "
            "WHERE region IS NULL",
            "-- c\nSELECT count(*) AS n FROM nullfillTable "
            "WHERE region IS NULL",
        ):
            assert engine.query(
                f"SET enableNullHandling=false; {q}"
            ).collect()[0]["n"] == 0, q
        # the engine's own table-type suffix views serve the same storage
        # and must honor the option too (round-6 review)
        assert (
            engine.query(
                "SET enableNullHandling=false; SELECT count(*) AS n "
                "FROM nullfillTable_REALTIME WHERE region IS NULL"
            ).collect()[0]["n"]
            == 0
        )
    finally:
        pipe.stop()


def test_text_match_sql_form(spark, tmp_path):
    """The SQL form of the text predicate **[P1.2]**: ``SELECT ... FROM t
    WHERE TEXT_MATCH(col, 'query') [AND residual]`` through query() and the
    broker envelope — analyzer-honoring, residual applied to the matched
    candidate set, top-level OR rejected loudly (same rules as the
    VECTOR_SIMILARITY SQL form)."""
    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "textTable"
    config["primaryKeyColumns"] = ["userID"]
    config["fieldConfigList"] = [
        {
            "name": "campaign",
            "encodingType": "RAW",
            "indexType": "TEXT",
            "properties": {
                "luceneAnalyzerClass": "org.apache.lucene.analysis.en.EnglishAnalyzer",
            },
        }
    ]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    _write_events(src_dir / "b1.json", 30, "2024-05-01")
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    try:
        pipe.process_available()
        engine.register_view("textTable")
        # english stemming: 'blackfridays' -> 'blackfriday' hits 10 rows
        out = engine.query(
            "SELECT userID, price FROM textTable "
            "WHERE TEXT_MATCH(campaign, 'blackfridays')"
        )
        assert out.count() == 10 and out.columns == ["userID", "price"]
        # comments are not code: the commented forms give the same answer
        for commented in (
            "SELECT userID, price FROM textTable "
            "WHERE TEXT_MATCH(campaign, 'blackfridays') -- c",
            "SELECT userID, price FROM textTable /* c */ "
            "WHERE TEXT_MATCH(campaign, 'blackfridays')",
        ):
            assert engine.query(commented).count() == 10
            resp = engine.query_broker_response(commented)
            assert resp["exceptions"] == [] and resp["numRowsResultSet"] == 10
        # residual conjunct applies AFTER the text match
        n = engine.query(
            "SELECT userID FROM textTable "
            "WHERE TEXT_MATCH(campaign, 'blackfridays') AND price > 20"
        ).count()
        assert 0 < n < 10
        # star projection passes the matched rows through
        assert engine.query(
            "SELECT * FROM textTable WHERE TEXT_MATCH(campaign, 'nonexistenttoken')"
        ).count() == 0
        # top-level OR in the residual is rejected loudly
        import pytest as _pytest

        with _pytest.raises(ValueError, match="top-level OR"):
            engine.query(
                "SELECT userID FROM textTable WHERE "
                "TEXT_MATCH(campaign, 'blackfridays') AND price > 20 OR price < 5"
            )
        # GROUP BY after the WHERE is named, not left to Spark's parser
        with _pytest.raises(ValueError, match="GROUP BY is not supported"):
            engine.query(
                "SELECT price, count(*) FROM textTable "
                "WHERE TEXT_MATCH(campaign, 'blackfridays') GROUP BY price"
            )
        # broker envelope round trip
        resp = engine.query_broker_response(
            "SELECT count(*) AS n FROM ("
            "SELECT userID FROM textTable WHERE TEXT_MATCH(campaign, 'blackfridays'))"
        )
        # subquery position is NOT the SQL form (falls to Spark SQL, which
        # lacks TEXT_MATCH) -> structured validation error, never a 500
        assert resp["exceptions"] and resp["exceptions"][0]["errorCode"] == 700
        resp = engine.query_broker_response(
            "SELECT userID, price FROM textTable "
            "WHERE TEXT_MATCH(campaign, 'blackfridays') AND price > 20"
        )
        assert resp["exceptions"] == [] and resp["numRowsResultSet"] == n
    finally:
        pipe.stop()


def test_index_predicate_sql_form_orders_limits_and_offsets(spark, tmp_path):
    """``ORDER BY`` / ``LIMIT`` / ``OFFSET`` after an index predicate apply
    to the projected candidates (Pinot clients send a LIMIT by default),
    in process and over the HTTP broker; they may order by a column the
    SELECT does not list, and they follow the residual conjuncts."""
    from real_time_analytics_with_apache_pinot_on_aws_spark import broker_http
    from tests.test_broker_http import _post

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "textTable"
    config["primaryKeyColumns"] = ["userID"]
    config["fieldConfigList"] = [
        {"name": "campaign", "encodingType": "RAW", "indexType": "TEXT"}
    ]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    _write_events(src_dir / "b1.json", 30, "2024-05-01")
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    srv = broker_http.start_broker(engine, port=0)
    try:
        pipe.process_available()
        engine.register_view("textTable")
        # rows i % 3 == 0 of 30 match: userID str(i), price 10 + i
        hits = sorted((10 + i, str(i)) for i in range(0, 30, 3))
        head = "SELECT userID, price FROM textTable WHERE TEXT_MATCH(campaign, 'blackfriday')"
        cases = {
            f"{head} ORDER BY price DESC LIMIT 3": [
                [u, p] for p, u in sorted(hits, reverse=True)[:3]
            ],
            f"{head} ORDER BY price LIMIT 4 OFFSET 2": [
                [u, p] for p, u in hits[2:6]
            ],
            f"{head} AND price > 20 ORDER BY textTable.price LIMIT 2": [
                [u, p] for p, u in hits if p > 20
            ][:2],
            f"{head} -- c\n ORDER BY price /* c */ LIMIT 1;": [
                [hits[0][1], hits[0][0]]
            ],
        }
        for sql, want in cases.items():
            got = [[r["userID"], r["price"]] for r in engine.query(sql).collect()]
            assert got == want, sql
            resp = _post(srv.url(), {"sql": sql})
            assert resp["exceptions"] == [], sql
            assert resp["resultTable"]["rows"] == want, sql
        # ordering by a column the SELECT leaves out
        rows = engine.query(
            "SELECT userID FROM textTable WHERE "
            "TEXT_MATCH(campaign, 'blackfriday') ORDER BY price DESC LIMIT 2"
        ).collect()
        assert [r["userID"] for r in rows] == ["27", "24"]
    finally:
        srv.stop()
        pipe.stop()


def _json_table(spark, tmp_path):
    """A 12-row ``jsonTable`` (primary key userID) whose ``payload`` JSON is
    NULL for u0 and u6; returns ``(engine, pipe)`` with the stream started."""
    src_dir = tmp_path / "stream_in"
    src_dir.mkdir(parents=True)
    with open(src_dir / "a.json", "w") as fh:
        for i in range(12):
            fh.write(json.dumps({
                "userID": f"u{i}",
                "campaign": "NONE",
                "price": 10 + i,
                "payload": json.dumps(
                    {"k": i % 4, "name": {"first": f"n{i % 3}"},
                     "tags": ["x", f"t{i % 2}"]}
                ) if i % 6 else None,
                "creationTimestamp": f"2024-06-01 10:{i:02d}:00",
            }) + "\n")
    config = dict(TABLE_CONFIG)
    config["tableName"] = "jsonTable"
    config["primaryKeyColumns"] = ["userID"]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    return engine, pipe


def test_json_match_sql_form_orders_and_limits(spark, tmp_path):
    """The tail clauses serve every index predicate: ``ORDER BY`` and
    ``LIMIT`` after a JSON_MATCH apply to its candidates."""
    engine, pipe = _json_table(spark, tmp_path)
    try:
        pipe.process_available()
        engine.register_view("jsonTable")
        rows = engine.query(
            "SELECT userID FROM jsonTable "
            "WHERE JSON_MATCH(payload, '\"$.k\" = 1') ORDER BY price DESC LIMIT 2"
        ).collect()
        # k = i % 4 == 1 for u1, u5, u9 (price 10 + i)
        assert [r["userID"] for r in rows] == ["u9", "u5"]
    finally:
        pipe.stop()


def test_json_match_sql_form(spark, tmp_path):
    """The SQL form of the JSON index predicate **[P1.2]**:
    ``WHERE JSON_MATCH(col, '"$.path" op value [AND ...]') [AND residual]``
    parses Pinot's filter string (quoted paths, '' escapes, IN lists,
    IS [NOT] NULL) into the postings conjunction; OR anywhere is loud."""
    engine, pipe = _json_table(spark, tmp_path)
    try:
        pipe.process_available()
        engine.register_view("jsonTable")
        # equality on a nested path (Pinot '' quote escape exercised too)
        out = engine.query(
            "SELECT userID FROM jsonTable "
            "WHERE JSON_MATCH(payload, '\"$.name.first\" = ''n1''')"
        )
        got = {r["userID"] for r in out.collect()}
        want = {f"u{i}" for i in range(12) if i % 6 and i % 3 == 1}
        assert got == want
        commented = engine.query(
            "SELECT userID FROM jsonTable "
            "WHERE JSON_MATCH(payload, '\"$.name.first\" = ''n1''') -- it's n1"
        )
        assert {r["userID"] for r in commented.collect()} == want
        # conjunction + numeric range + residual conjunct
        n = engine.query(
            "SELECT userID FROM jsonTable WHERE JSON_MATCH(payload, "
            "'\"$.k\" >= 2 AND \"$.tags[*]\" IN (''t1'')') AND price > 12"
        ).count()
        want_n = sum(
            1 for i in range(12)
            if i % 6 and i % 4 >= 2 and i % 2 == 1 and 10 + i > 12
        )
        assert n == want_n and n > 0
        # IS NULL: docs whose payload lacks the path (incl. NULL payloads)
        n_null = engine.query(
            "SELECT userID FROM jsonTable "
            "WHERE JSON_MATCH(payload, '\"$.missing\" IS NULL')"
        ).count()
        assert n_null == 12
        # OR inside the filter string is loud
        import pytest as _pytest

        with _pytest.raises(ValueError, match="OR is not supported"):
            engine.query(
                "SELECT userID FROM jsonTable "
                "WHERE JSON_MATCH(payload, '\"$.k\"=1 OR \"$.k\"=2')"
            )
        # broker envelope round trip
        resp = engine.query_broker_response(
            "SELECT userID FROM jsonTable "
            "WHERE JSON_MATCH(payload, '\"$.name.first\" = ''n1''')"
        )
        assert resp["exceptions"] == []
        assert resp["numRowsResultSet"] == len(want)
    finally:
        pipe.stop()


def test_concurrent_broker_json_match_requests_own_their_caches(spark, tmp_path):
    """Concurrent broker requests share one SparkSession: each JSON_MATCH
    answer must come from its own postings build (no shared session view),
    and every operator cache a request opened is gone once it returns."""
    from concurrent.futures import ThreadPoolExecutor

    engine, pipe = _json_table(spark, tmp_path)
    cases = {
        "\"$.k\" = 0": lambda i: i % 4 == 0,
        "\"$.k\" = 1": lambda i: i % 4 == 1,
        "\"$.k\" >= 2": lambda i: i % 4 >= 2,
        "\"$.name.first\" = ''n0''": lambda i: i % 3 == 0,
        "\"$.name.first\" = ''n2''": lambda i: i % 3 == 2,
        "\"$.tags[*]\" = ''t0''": lambda i: i % 2 == 0,
        "\"$.tags[*]\" IN (''t1'')": lambda i: i % 2 == 1,
    }
    try:
        pipe.process_available()
        engine.register_view("jsonTable")
        spark.catalog.clearCache()

        def run(expr):
            return engine.query_broker_response(
                f"SELECT userID FROM jsonTable WHERE JSON_MATCH(payload, '{expr}')"
            )

        with ThreadPoolExecutor(len(cases)) as pool:
            resps = list(pool.map(run, cases))
        for (expr, pred), resp in zip(cases.items(), resps):
            assert resp["exceptions"] == [], expr
            got = {row[0] for row in resp["resultTable"]["rows"]}
            assert got == {f"u{i}" for i in range(12) if i % 6 and pred(i)}, expr
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        pipe.stop()


def test_star_tree_hll_metric_end_to_end(spark, tmp_path):
    """Pinot star-tree DISTINCTCOUNTHLL functionColumnPair **[P1.2]**:
    cells store mergeable DataSketches HLL sketches maintained at ingest;
    a DISTINCTCOUNTHLL group-by ROUTES to the cells and answers
    bit-for-bit what the raw-scan DataSketches estimate answers (union of
    per-batch sketches == sketch of the union); useStarTree=false
    cross-checks on the scan path."""
    src_dir = tmp_path / "stream_in"
    config = {
        "tableName": "hllTable",
        "tableType": "REALTIME",
        "segmentsConfig": {"timeColumnName": "creationTimestamp"},
        "tableIndexConfig": {
            "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
            "starTreeIndexConfigs": [
                {
                    "dimensionsSplitOrder": ["campaign", "ingest_date"],
                    "functionColumnPairs": [
                        "DISTINCTCOUNTHLL__userID", "SUM__price"
                    ],
                }
            ],
        },
    }
    cfg = TableConfig.parse(config)
    assert ("hll__userID", ("hll", "userID")) in cfg.star_tree_metrics
    engine = Engine(spark, str(tmp_path / "warehouse"))
    _write_events(src_dir / "b1.json", 40, "2024-06-01")
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    try:
        pipe.process_available()
        # second batch: the routed answer must merge across batch cells
        _write_events(src_dir / "b2.json", 25, "2024-06-02", start=200)
        pipe.process_available()
        engine.register_view("hllTable")
        q = ("SELECT campaign, DISTINCTCOUNTHLL(userID) AS u, "
             "SUM(price) AS rev FROM hllTable GROUP BY campaign")
        routed, route = engine.query_routed(q)
        assert route.startswith("rollup:"), route
        got = {r["campaign"]: (r["u"], r["rev"]) for r in routed.collect()}
        # cross-check against the raw scan with the SAME estimator
        direct = spark.sql(
            "SELECT campaign, hll_sketch_estimate(hll_sketch_agg(userID)) "
            "AS u, SUM(price) AS rev FROM hllTable GROUP BY campaign"
        )
        want = {r["campaign"]: (r["u"], r["rev"]) for r in direct.collect()}
        assert got == want
        # estimates are sane: 40+25 events over ~100-key userID space
        assert all(0 < u <= 70 for u, _ in got.values())
        # the useStarTree=false cross-check now answers with the SAME
        # DataSketches estimator (round-6 review), so it must EQUAL the
        # routed answer, which is the whole point of the cross-check
        scan_df, scan_route = engine.query_routed(
            f"SET useStarTree=false; {q}"
        )
        assert scan_route == "sql"
        scan_vals = {r["campaign"]: (r["u"], r["rev"]) for r in scan_df.collect()}
        assert scan_vals == got
        # RAWHLL spelling routes to the same cells
        _, route2 = engine.query_routed(
            "SELECT campaign, DISTINCTCOUNTRAWHLL(userID) AS u "
            "FROM hllTable GROUP BY campaign"
        )
        assert route2.startswith("rollup:")
    finally:
        pipe.stop()


def test_hybrid_star_tree_hll_cells(spark, tmp_path):
    """The HLL sketch functionColumnPair on a HYBRID table: offline uploads
    append sketch cells, realtime batches append theirs, and the routed
    DISTINCTCOUNTHLL answer over the merged cell relation matches the raw
    merged-scan DataSketches estimate exactly."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.rollup import AggRequest

    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "rt.json", 12, "2024-06-02")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    st_config = json.loads(json.dumps(TABLE_CONFIG))
    st_config["tableIndexConfig"]["starTreeIndexConfigs"] = [
        {
            "dimensionsSplitOrder": ["campaign", "ingest_date"],
            "functionColumnPairs": ["DISTINCTCOUNTHLL__userID", "COUNT__price"],
        }
    ]
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, st_config,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    engine.upload_segment(
        "kinesisTable",
        spark.createDataFrame(
            [("u1", "X", 30, "2024-06-01 09:00:00"),
             ("u2", "X", 40, "2024-06-01 10:00:00"),
             ("u1", "Y", 50, "2024-06-01 11:00:00")],
            "userID string, campaign string, price int, creationTimestamp string",
        ),
    )
    try:
        engine.register_view("kinesisTable")
        req = AggRequest(
            dims=("campaign",),
            aggs={"u": ("distinctcounthll", "userID"), "n": ("count", "price")},
        )
        out, route = engine.query_agg("kinesisTable", req)
        assert route.startswith("rollup:"), route
        got = {r["campaign"]: (r["u"], r["n"]) for r in out.collect()}
        direct = spark.sql(
            "SELECT campaign, hll_sketch_estimate(hll_sketch_agg(userID)) AS u, "
            "count(price) AS n FROM kinesisTable GROUP BY campaign"
        )
        want = {r["campaign"]: (r["u"], r["n"]) for r in direct.collect()}
        assert got == want
        assert sum(n for _, n in got.values()) == 15
    finally:
        pipe.stop()


def test_explain_covers_engine_sql_forms(spark, tmp_path):
    """EXPLAIN PLAN FOR composes with the engine's own SQL forms: a
    TEXT_MATCH statement explains the postings-join plan it actually runs
    (round-6: it used to die on the unresolved function)."""
    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "exTable"
    config["primaryKeyColumns"] = ["userID"]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    _write_events(src_dir / "a.json", 6, "2024-06-01")
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    try:
        pipe.process_available()
        engine.register_view("exTable")
        rows = engine.query(
            "EXPLAIN PLAN FOR SELECT userID FROM exTable "
            "WHERE TEXT_MATCH(campaign, 'blackfriday')"
        ).collect()
        ops = " ".join(r["Operator"] for r in rows)
        assert "Join" in ops            # the postings semi-join is visible
        assert rows[0]["Parent_Id"] == -1
        # the Pinot aggregate spelling explains its rewritten plan too
        rows2 = engine.query(
            "EXPLAIN PLAN FOR SELECT DISTINCTCOUNT(userID) AS d FROM exTable"
        ).collect()
        assert any("HashAggregate" in r["Operator"] for r in rows2)
        # LOOKUP explains through _sql_without_union_pushdown on re-entry
        # (round-6 review: the post-rewrite EXPLAIN ordering lost
        # has_lookup and crashed planning over hybrid unions)
        dim = spark.createDataFrame(
            [("BlackFriday", "alex")], "campaign string, owner string"
        )
        engine.add_dim_table(
            {
                "schemaName": "exDim",
                "dimensionFieldSpecs": [
                    {"name": "campaign", "dataType": "STRING"},
                    {"name": "owner", "dataType": "STRING"},
                ],
                "primaryKeyColumns": ["campaign"],
            },
            {"tableName": "exDim", "tableType": "OFFLINE", "isDimTable": True},
            dim,
        )
        rows3 = engine.query(
            "EXPLAIN PLAN FOR SELECT LOOKUP('exDim','owner','campaign', "
            "campaign) AS o, count(*) AS n FROM exTable GROUP BY 1"
        ).collect()
        assert rows3 and rows3[0]["Parent_Id"] == -1
    finally:
        pipe.stop()


def test_query_routed_null_handling_option_bypasses_star_tree(spark, tmp_path):
    """Round-6 ADVICE (medium): query_routed fenced skipUpsert/useStarTree
    but not enableNullHandling=false — a routed narrow aggregate would
    serve null-NATIVE star-tree cells while query() serves the
    sentinel-substituted view.  The option must force the raw-scan path."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "starNull"
    config["tableIndexConfig"] = {
        "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        "starTreeIndexConfigs": [
            {
                "dimensionsSplitOrder": ["campaign", "ingest_date"],
                "functionColumnPairs": ["SUM__price", "COUNT__price", "MIN__price"],
            }
        ],
    }
    engine = Engine(spark, str(tmp_path / "warehouse"))
    src_dir.mkdir(parents=True, exist_ok=True)
    rows = [
        {"userID": "u1", "campaign": "BF", "price": 10,
         "creationTimestamp": "2024-06-01 10:00:00"},
        # price ABSENT: null-native storage holds NULL; the sentinel view
        # (enableNullHandling=false) reads the metric INT default 0
        {"userID": "u2", "campaign": "BF",
         "creationTimestamp": "2024-06-01 10:01:00"},
    ]
    (src_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    pipe = engine.add_table(CLICKSTREAM_SCHEMA, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    try:
        pipe.process_available()
        engine.register_view("starNull")
        sql = ("SELECT campaign, count(price) AS n, min(price) AS lo "
               "FROM starNull GROUP BY campaign")
        routed, route = engine.query_routed(sql)
        assert route == "rollup:startree"
        r = routed.collect()[0]
        assert (r["n"], r["lo"]) == (1, 10)        # null-native: NULL ignored
        opted, route2 = engine.query_routed(f"SET enableNullHandling=false; {sql}")
        assert route2 == "sql"                      # fenced off the star-tree
        r2 = opted.collect()[0]
        assert (r2["n"], r2["lo"]) == (2, 0)        # sentinel view: 0 counted
        # and it matches query() with the same option exactly
        r3 = engine.query(f"SET enableNullHandling=false; {sql}").collect()[0]
        assert (r3["n"], r3["lo"]) == (2, 0)
    finally:
        pipe.stop()


def test_table_ref_rewrite_covers_comma_from_lists(spark, tmp_path):
    """Round-6 ADVICE (low): FROM a, b — the 2nd+ tables of a comma list
    must rewrite too, for BOTH option rewrites (enableNullHandling here)
    and the virtual-column resolution; partial application silently mixed
    sentinel/null semantics in one statement."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    engine = Engine(spark, str(tmp_path / "warehouse"))
    cfg = {
        "tableName": "commaTable",
        "tableType": "REALTIME",
        "segmentsConfig": {"timeColumnName": "creationTimestamp"},
        "tableIndexConfig": {
            "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        },
    }
    src_dir.mkdir(parents=True, exist_ok=True)
    rows = [
        {"userID": "u1", "region": "eu", "slot": 4, "campaign": "BF",
         "price": 9.5, "creationTimestamp": "2024-06-01 10:00:00"},
        {"userID": "u2", "creationTimestamp": "2024-06-01 10:01:00"},
    ]
    (src_dir / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    pipe = engine.add_table(NULLFILL_SCHEMA, cfg,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    try:
        pipe.process_available()
        engine.register_view("commaTable")
        # cross-joined comma list: with the option applied to BOTH refs no
        # side has a NULL region; a partially-applied rewrite would leave
        # b.region NULL and count 2
        n = engine.query(
            "SET enableNullHandling=false; SELECT count(*) AS n "
            "FROM commaTable a, commaTable b "
            "WHERE a.region IS NULL OR b.region IS NULL"
        ).collect()[0]["n"]
        assert n == 0
        # sentinel readable through the second ref specifically
        n2 = engine.query(
            "SET enableNullHandling=false; SELECT count(*) AS n "
            "FROM commaTable a, commaTable b "
            "WHERE a.userID = 'u1' AND b.region = 'null'"
        ).collect()[0]["n"]
        assert n2 == 1
        # virtual columns resolve on every member of the comma list
        v = engine.query(
            "SELECT a.userID AS u, b.$docId AS d FROM commaTable a, "
            "commaTable b WHERE a.userID = b.userID AND b.$docId >= 0 "
            "ORDER BY u"
        ).collect()
        assert len(v) == 2 and all(r["d"] >= 0 for r in v)
    finally:
        pipe.stop()


def test_explain_plan_honors_query_options(spark, tmp_path):
    """Round-6 ADVICE (low): EXPLAIN PLAN FOR used to drop leading SET
    options (the option rewrites are SELECT-gated and no-op'd on the
    EXPLAIN-prefixed text) — the explained plan must be the plan the
    OPTIONED query runs (skipUpsert here: raw log vs resolved view)."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "explainOpt"
    config["upsertConfig"] = {"mode": "FULL"}
    schema = dict(CLICKSTREAM_SCHEMA)
    schema["primaryKeyColumns"] = ["userID"]
    engine = Engine(spark, str(tmp_path / "warehouse"))

    def row(uid, price, t):
        return {"userID": uid, "campaign": "c", "price": price,
                "creationTimestamp": f"2024-06-01 {t}"}

    src_dir.mkdir(parents=True, exist_ok=True)
    (src_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        row("u1", 10, "10:00:00"), row("u1", 12, "10:05:00"),
    ]))
    pipe = engine.add_table(schema, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    try:
        pipe.process_available()
        engine.register_view("explainOpt")
        stmt = "SELECT count(*) AS n FROM explainOpt"
        resolved_ops = " ".join(
            r["Operator"]
            for r in engine.query(f"EXPLAIN PLAN FOR {stmt}").collect()
        )
        raw_ops = " ".join(
            r["Operator"]
            for r in engine.query(
                f"SET skipUpsert=true; EXPLAIN PLAN FOR {stmt}"
            ).collect()
        )
        # resolved view = latest-per-key (a keys=[userID] resolution
        # aggregate over the log); the raw-log plan has no per-key pass
        assert "keys=[userID" in resolved_ops
        assert "keys=[userID" not in raw_ops
    finally:
        pipe.stop()


def test_timeout_watchdog_covers_planning_phase(spark, tmp_path, monkeypatch):
    """Round-6 ADVICE (low): the timeoutMs job group must be set BEFORE
    query() runs, so planning-phase Spark jobs (hybrid boundary collects,
    postings builds, analysis probes) are cancellable too."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    seen: dict = {}
    orig = engine.query

    def spy(sql):
        seen["group"] = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        return orig(sql)

    monkeypatch.setattr(engine, "query", spy)
    resp = engine.query_broker_response("SET timeoutMs=60000; SELECT 1 AS one")
    assert resp["exceptions"] == []
    assert seen["group"] is not None and seen["group"].startswith("broker-")
    # without the option no group is pinned (thread-local stays clean)
    seen.clear()
    resp2 = engine.query_broker_response("SELECT 1 AS one")
    assert resp2["exceptions"] == [] and seen["group"] is None


def test_table_ref_rewrite_covers_join_and_mixed_from_shapes(spark, tmp_path):
    """Round-7 review: the greedy alias group used to swallow the JOIN of
    'FROM a JOIN b', leaving the second table unrewritten (silent partial
    option application), and 'FROM a, b JOIN c' produced overlapping edit
    spans.  All refs of both shapes must rewrite, atomically."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    engine = Engine(spark, str(tmp_path / "warehouse"))
    cfg = {
        "tableName": "joinTable",
        "tableType": "REALTIME",
        "segmentsConfig": {"timeColumnName": "creationTimestamp"},
        "tableIndexConfig": {
            "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        },
    }
    src_dir.mkdir(parents=True, exist_ok=True)
    rows = [
        {"userID": "u1", "region": "eu", "slot": 4, "campaign": "BF",
         "price": 9.5, "creationTimestamp": "2024-06-01 10:00:00"},
        {"userID": "u2", "creationTimestamp": "2024-06-01 10:01:00"},
    ]
    (src_dir / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    pipe = engine.add_table(NULLFILL_SCHEMA, cfg,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    try:
        pipe.process_available()
        engine.register_view("joinTable")
        # plain JOIN: the SECOND ref must carry the option too
        n = engine.query(
            "SET enableNullHandling=false; SELECT count(*) AS n "
            "FROM joinTable a JOIN joinTable b ON a.userID = b.userID "
            "WHERE b.region IS NULL"
        ).collect()[0]["n"]
        assert n == 0
        n2 = engine.query(
            "SET enableNullHandling=false; SELECT count(*) AS n "
            "FROM joinTable a JOIN joinTable b ON a.userID = b.userID "
            "WHERE b.region = 'null'"
        ).collect()[0]["n"]
        assert n2 == 1
        # mixed comma + JOIN: three refs, no overlapping-edit garble
        n4 = engine.query(
            "SET enableNullHandling=false; SELECT count(*) AS n "
            "FROM joinTable a, joinTable b JOIN joinTable c "
            "ON b.userID = c.userID "
            "WHERE a.userID = 'u1' AND c.region IS NULL"
        ).collect()[0]["n"]
        assert n4 == 0
        n5 = engine.query(
            "SET enableNullHandling=false; SELECT count(*) AS n "
            "FROM joinTable a, joinTable b JOIN joinTable c "
            "ON b.userID = c.userID "
            "WHERE a.userID = 'u1' AND c.region = 'null'"
        ).collect()[0]["n"]
        assert n5 == 1
        # virtual columns resolve on the JOIN's second table too (the
        # pre-round-7 _FROM_TABLE_RE handled this; the scanner must not
        # regress it)
        v = engine.query(
            "SELECT a.userID AS u, b.$docId AS d FROM joinTable a "
            "JOIN joinTable b ON a.userID = b.userID ORDER BY u"
        ).collect()
        assert len(v) == 2 and all(r["d"] >= 0 for r in v)
    finally:
        pipe.stop()


def test_table_ref_rewrite_keyword_named_alias(spark, tmp_path):
    """Round-7 review: 'FROM t AS sort' — an explicit AS followed by a
    keyword-named alias used to backtrack into capturing 'AS' itself as
    the alias, garbling the rewrite so the analysis probe silently served
    the UN-optioned original.  With 'as' in the lookahead list the alias
    group fails cleanly and the option applies."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "aliasKw"
    config["upsertConfig"] = {"mode": "FULL"}
    schema = dict(CLICKSTREAM_SCHEMA)
    schema["primaryKeyColumns"] = ["userID"]
    engine = Engine(spark, str(tmp_path / "warehouse"))
    src_dir.mkdir(parents=True, exist_ok=True)
    (src_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        {"userID": "u1", "campaign": "c", "price": 10,
         "creationTimestamp": "2024-06-01 10:00:00"},
        {"userID": "u1", "campaign": "c", "price": 12,
         "creationTimestamp": "2024-06-01 10:05:00"},
    ]))
    pipe = engine.add_table(schema, config,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    try:
        pipe.process_available()
        engine.register_view("aliasKw")
        # resolved: 1 row; skipUpsert over a keyword-named alias: 2 rows
        n = engine.query(
            "SET skipUpsert=true; SELECT count(*) AS n FROM aliasKw AS sort"
        ).collect()[0]["n"]
        assert n == 2
        # qualified references through the keyword alias keep resolving
        n2 = engine.query(
            "SET skipUpsert=true; SELECT count(*) AS n FROM aliasKw AS sort "
            "WHERE sort.userID = 'u1'"
        ).collect()[0]["n"]
        assert n2 == 2
    finally:
        pipe.stop()


def test_table_ref_rewrite_explicit_as_keyword_alias(spark, tmp_path):
    """Round-7 second review: after an EXPLICIT AS, any non-AS word is the
    alias — Spark accepts 'FROM t AS limit' — and the option must apply
    (the hard refusal made callable-target rewrites double-alias and
    silently serve the un-optioned original)."""
    import json as _json

    src_dir = tmp_path / "stream_in"
    engine = Engine(spark, str(tmp_path / "warehouse"))
    cfg = {
        "tableName": "asKw",
        "tableType": "REALTIME",
        "segmentsConfig": {"timeColumnName": "creationTimestamp"},
        "tableIndexConfig": {
            "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"},
        },
    }
    src_dir.mkdir(parents=True, exist_ok=True)
    rows = [
        {"userID": "u1", "region": "eu", "slot": 4, "campaign": "BF",
         "price": 9.5, "creationTimestamp": "2024-06-01 10:00:00"},
        {"userID": "u2", "creationTimestamp": "2024-06-01 10:01:00"},
    ]
    (src_dir / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    pipe = engine.add_table(NULLFILL_SCHEMA, cfg,
                            RawRecordSource(kind="files", path=str(src_dir)),
                            available_now=True)
    try:
        pipe.process_available()
        engine.register_view("asKw")
        for alias in ("limit", "values", "end"):
            n = engine.query(
                "SET enableNullHandling=false; SELECT count(*) AS n "
                f"FROM asKw AS {alias} WHERE {alias}.region IS NULL"
            ).collect()[0]["n"]
            assert n == 0, alias  # sentinel view: the option APPLIED
            n2 = engine.query(
                "SET enableNullHandling=false; SELECT count(*) AS n "
                f"FROM asKw AS {alias} WHERE {alias}.region = 'null'"
            ).collect()[0]["n"]
            assert n2 == 1, alias
    finally:
        pipe.stop()


def test_explain_spellings_route_physical_vs_logical(spark, tmp_path):
    """Pinot 1.2's three explain spellings **[P1.2]** (round 9):
    EXPLAIN PLAN FOR and EXPLAIN IMPLEMENTATION PLAN FOR answer the
    PHYSICAL operator tree; EXPLAIN PLAN WITHOUT IMPLEMENTATION FOR
    answers the LOGICAL (Catalyst-optimized) tree — all in Pinot's
    Operator/Operator_Id/Parent_Id result shape."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine

    spark.range(50).selectExpr("id % 5 AS k", "id AS v").createOrReplaceTempView(
        "explain3_src"
    )
    engine = Engine(spark, str(tmp_path / "wh"))
    body = "SELECT k, sum(v) AS s FROM explain3_src GROUP BY k"
    phys = [r["Operator"] for r in engine.query(f"EXPLAIN PLAN FOR {body}").collect()]
    impl = [
        r["Operator"]
        for r in engine.query(f"EXPLAIN IMPLEMENTATION PLAN FOR {body}").collect()
    ]
    logi = [
        r["Operator"]
        for r in engine.query(
            f"EXPLAIN PLAN WITHOUT IMPLEMENTATION FOR {body}"
        ).collect()
    ]
    import re as _re

    strip = lambda ops: [  # noqa: E731
        _re.sub(r"#\d+|plan_id=\d+", "#", o) for o in ops
    ]
    # implementation == the classic physical form (modulo expression and
    # plan ids, which Catalyst renumbers per analysis)
    assert strip(phys) == strip(impl)
    assert any("HashAggregate" in op for op in phys)  # physical operators
    assert any(op.startswith("Aggregate") for op in logi)  # logical rel
    assert not any("HashAggregate" in op for op in logi)
    # all three share the Pinot result schema
    df = engine.query(f"EXPLAIN PLAN WITHOUT IMPLEMENTATION FOR {body}")
    assert [f.name for f in df.schema.fields] == [
        "Operator", "Operator_Id", "Parent_Id",
    ]
