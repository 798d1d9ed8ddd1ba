"""The reference's wire surface: POST /query/sql at the broker (ALB target
path + health check, lib/apache-pinot-solution-stack.ts:714-728).  A real
HTTP client round-trips SQL to the engine and receives the Pinot broker
envelope; failures come back structured, never as a 500."""

from __future__ import annotations

import json
import urllib.request

import pytest

from real_time_analytics_with_apache_pinot_on_aws_spark import broker_http
from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine


@pytest.fixture(scope="module")
def broker(spark, tmp_path_factory):
    engine = Engine(spark, str(tmp_path_factory.mktemp("wh")))
    spark.range(100).selectExpr(
        "id", "id % 3 AS g", "id * 2 AS v"
    ).createOrReplaceTempView("broker_src")
    srv = broker_http.start_broker(engine, port=0)  # ephemeral port
    yield srv
    srv.stop()


def _post(url: str, payload: dict) -> dict:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        assert resp.status == 200
        return json.loads(resp.read())


def test_query_sql_roundtrip(broker):
    resp = _post(
        broker.url(),
        {"sql": "SELECT g, count(*) AS n, sum(v) AS s FROM broker_src GROUP BY g ORDER BY g"},
    )
    schema = resp["resultTable"]["dataSchema"]
    assert schema["columnNames"] == ["g", "n", "s"]
    assert schema["columnDataTypes"] == ["LONG", "LONG", "LONG"]
    assert resp["numRowsResultSet"] == 3
    assert sum(r[1] for r in resp["resultTable"]["rows"]) == 100
    assert resp["exceptions"] == []
    # broker metadata clients parse: present and honest
    assert len(resp["requestId"]) == 16
    assert resp["numServersQueried"] == resp["numServersResponded"] == 1
    assert resp["numGroupsLimitReached"] is False
    assert resp["partialResult"] is False
    assert "numDocsScanned" not in resp    # never fabricated


def test_bad_sql_returns_structured_exception(broker):
    resp = _post(broker.url(), {"sql": "SELECT x FROM no_such_table_anywhere"})
    assert resp["numRowsResultSet"] == 0
    assert resp["exceptions"][0]["errorCode"] == 700
    resp2 = _post(broker.url(), {"sql": "SELEC nope"})
    assert resp2["exceptions"][0]["errorCode"] == 150
    # malformed envelope -> JSON_PARSING 100
    resp3 = _post(broker.url(), {"not_sql": 1})
    assert resp3["exceptions"][0]["errorCode"] == 100


def test_health_and_alb_probe(broker):
    base = broker.url().rsplit("/query/sql", 1)[0]
    for path in ("/health", "/query/sql"):
        with urllib.request.urlopen(base + path, timeout=30) as resp:
            assert resp.status == 200
    with pytest.raises(urllib.error.HTTPError):
        urllib.request.urlopen(base + "/nope", timeout=30)


def test_concurrent_queries(broker):
    """Pinot brokers serve many dashboard clients at once; the threaded
    server + thread-safe SparkSession must answer concurrent POSTs
    correctly (each result complete and consistent)."""
    from concurrent.futures import ThreadPoolExecutor

    def one(i: int) -> int:
        resp = _post(
            broker.url(),
            {"sql": f"SELECT count(*) AS n FROM broker_src WHERE id % 7 = {i % 7}"},
        )
        assert resp["exceptions"] == []
        return resp["resultTable"]["rows"][0][0]

    with ThreadPoolExecutor(max_workers=8) as ex:
        counts = list(ex.map(one, range(14)))
    # ids 0..99: id%7==0 -> 15 rows; 1..6 -> 15 or 14
    assert counts == [15 if i % 7 <= 1 else 14 for i in range(14)]


def test_non_object_json_bodies_get_structured_100(broker):
    """Valid JSON that is not an object (null, list, string, number) must
    come back as the errorCode-100 envelope, never a dropped connection
    (round-5 review)."""
    for payload in (None, [], "SELECT 1", 123):
        req = urllib.request.Request(
            broker.url(),
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            assert resp.status == 200
            body = json.loads(resp.read())
        assert body["exceptions"][0]["errorCode"] == 100, payload


def test_concurrent_gapfill_queries_isolated(broker):
    """Round-5 review pin: outer-aggregation gapfill queries materialize
    under UNIQUE per-query temp views — concurrent clients must each get
    their own result, never a swap."""
    from concurrent.futures import ThreadPoolExecutor

    broker.engine.spark.createDataFrame(
        [("2024-06-01 00:00:00", i, float(10 * i)) for i in (0, 1, 4)],
        "ts string, h int, v double",
    ).selectExpr(
        "timestamp(concat('2024-06-01 0', h, ':00:00')) AS tb", "v"
    ).createOrReplaceTempView("gap_src")

    def one(i: int) -> float:
        # each client fills a DIFFERENT default so a swapped result is
        # detectable in the aggregate
        resp = _post(
            broker.url(),
            {"sql": (
                "SELECT sum(v) AS total FROM ("
                "SELECT GAPFILL(tb, '1:HOURS:EPOCH', '2024-06-01 00:00:00', "
                "'2024-06-01 04:00:00', '1:HOURS', "
                f"FILL(v, 'FILL_DEFAULT_VALUE')) AS tb, v + {i} AS v "
                "FROM gap_src)"
            )},
        )
        assert resp["exceptions"] == []
        return resp["resultTable"]["rows"][0][0]

    with ThreadPoolExecutor(max_workers=6) as ex:
        totals = list(ex.map(one, range(12)))
    # base sum(v)=50 over 3 real rows (+i each), 2 filled rows contribute 0
    assert totals == [50.0 + 3 * i for i in range(12)]


def test_broker_query_options_field(spark, tmp_path):
    """Pinot's request envelope carries queryOptions out-of-band:
    {"sql": ..., "queryOptions": "k=v;k2=v2"} must parse exactly like the
    SET-prefix form (and a malformed type is a structured 100 error)."""
    import json as _json
    import urllib.request

    from real_time_analytics_with_apache_pinot_on_aws_spark.broker_http import start_broker
    from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine

    engine = Engine(spark, str(tmp_path / "warehouse"))
    srv = start_broker(engine, port=0)
    try:
        def post(body):
            req = urllib.request.Request(
                srv.url(), data=_json.dumps(body).encode(),
                headers={"Content-Type": "application/json"}, method="POST",
            )
            with urllib.request.urlopen(req, timeout=30) as r:
                return _json.loads(r.read())

        resp = post({"sql": "SELECT 1 AS one",
                     "queryOptions": "useStarTree=false;timeoutMs=5000"})
        assert resp["exceptions"] == []
        assert resp["resultTable"]["rows"] == [[1]]
        bad = post({"sql": "SELECT 1", "queryOptions": ["not", "a", "string"]})
        assert bad["exceptions"][0]["errorCode"] == 100
    finally:
        srv.stop()


def test_timeout_ms_is_enforced_with_error_250(spark, tmp_path):
    """SET timeoutMs **[P1.2]** is enforced, not just recorded: a query
    that cannot finish by the deadline is CANCELLED via its per-request job
    group and the envelope answers Pinot's EXECUTION_TIMEOUT errorCode 250
    promptly; a fast query under a generous timeout is unaffected."""
    import time

    from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine

    engine = Engine(spark, str(tmp_path / "warehouse"))
    # ~1e16-pair cross join: cannot finish; must be cancelled at ~400ms
    spark.range(100_000_000).createOrReplaceTempView("big_a")
    spark.range(100_000_000).createOrReplaceTempView("big_b")
    t0 = time.monotonic()
    resp = engine.query_broker_response(
        "SET timeoutMs=400; SELECT count(*) AS n FROM big_a a JOIN big_b b"
    )
    elapsed = time.monotonic() - t0
    assert resp["exceptions"] and resp["exceptions"][0]["errorCode"] == 250
    assert "timeoutMs=400" in resp["exceptions"][0]["message"]
    assert elapsed < 60  # cancelled, not run to completion
    # fast query + generous timeout: clean result, and the thread's job
    # group was cleared so subsequent queries are not cancellable residue
    ok = engine.query_broker_response("SET timeoutMs=60000; SELECT 1 AS one")
    assert ok["exceptions"] == [] and ok["resultTable"]["rows"] == [[1]]
    ok2 = engine.query_broker_response("SELECT 2 AS two")
    assert ok2["exceptions"] == [] and ok2["resultTable"]["rows"] == [[2]]


def test_enable_null_handling_option_over_broker(spark, tmp_path):
    """enableNullHandling=false through the wire **[P1.2]** — both the SET
    prefix and the queryOptions body field serve the sentinel view of a
    null-native engine table."""
    import json as _json

    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.ingest import (
        RawRecordSource,
    )

    src_dir = tmp_path / "stream_in"
    src_dir.mkdir()
    with open(src_dir / "a.json", "w") as fh:
        fh.write(_json.dumps({"userID": "u1", "region": "eu", "slot": 4,
                              "creationTimestamp": "2024-06-01 10:00:00"}) + "\n")
        fh.write(_json.dumps({"userID": "u2",
                              "creationTimestamp": "2024-06-01 10:01:00"}) + "\n")
    schema = {
        "schemaName": "nh_broker",
        "dimensionFieldSpecs": [
            {"name": "userID", "dataType": "STRING"},
            {"name": "region", "dataType": "STRING"},
            {"name": "slot", "dataType": "INT"},
        ],
        "dateTimeFieldSpecs": [
            {"name": "creationTimestamp", "dataType": "STRING",
             "format": "SIMPLE_DATE_FORMAT|yyyy-MM-dd HH:mm:ss",
             "granularity": "1:DAYS"}
        ],
    }
    cfg = {
        "tableName": "nh_broker",
        "tableType": "REALTIME",
        "segmentsConfig": {"timeColumnName": "creationTimestamp"},
        "tableIndexConfig": {
            "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"}
        },
    }
    engine = Engine(spark, str(tmp_path / "wh"))
    pipe = engine.add_table(
        schema, cfg, RawRecordSource(kind="files", path=str(src_dir)),
        available_now=True,
    )
    srv = broker_http.start_broker(engine, port=0)
    try:
        pipe.process_available()
        engine.register_view("nh_broker")
        q = ("SELECT region, slot FROM nh_broker WHERE userID = 'u2'")
        resp = _post(srv.url(), {"sql": f"SET enableNullHandling=false; {q}"})
        assert resp["resultTable"]["rows"] == [["null", -(2**31)]]
        resp = _post(srv.url(), {"sql": q, "queryOptions": "enableNullHandling=false"})
        assert resp["resultTable"]["rows"] == [["null", -(2**31)]]
        # a quote inside a comment does not hide the FROM after it
        cq = q.replace(" FROM", " -- it's the sentinel view\nFROM")
        resp = _post(srv.url(), {"sql": f"SET enableNullHandling=false; {cq}"})
        assert resp["resultTable"]["rows"] == [["null", -(2**31)]]
        resp = _post(srv.url(), {"sql": q})       # default: real nulls
        assert resp["resultTable"]["rows"] == [[None, None]]
    finally:
        srv.stop()
        pipe.stop()


def test_num_groups_limit_option(broker):
    """Pinot numGroupsLimit **[P1.2]**: a group-by answer is capped at N
    groups and the envelope flags the trim; every returned group is exact
    (strictly better than Pinot's mid-execution tracking cutoff, noted in
    the engine docstring).  Non-group-by statements ignore the option."""
    q = "SELECT g, count(*) AS n FROM broker_src GROUP BY g"
    resp = _post(broker.url(), {"sql": f"SET numGroupsLimit=2; {q}"})
    assert resp["numRowsResultSet"] == 2
    assert resp["numGroupsLimitReached"] is True
    # exact values for the groups that survive
    assert all(r[1] in (33, 34) for r in resp["resultTable"]["rows"])
    resp = _post(broker.url(), {"sql": f"SET numGroupsLimit=10; {q}"})
    assert resp["numRowsResultSet"] == 3
    assert resp["numGroupsLimitReached"] is False
    # a quote inside a comment does not hide the GROUP BY after it
    commented = (
        "SELECT g, count(*) AS n FROM broker_src -- it's grouped\nGROUP BY g"
    )
    resp = _post(broker.url(), {"sql": f"SET numGroupsLimit=2; {commented}"})
    assert resp["numRowsResultSet"] == 2
    assert resp["numGroupsLimitReached"] is True
    # nor does a quote inside a backtick-quoted identifier
    quoted = "SELECT g AS `it's`, count(*) AS n FROM broker_src GROUP BY g"
    resp = _post(broker.url(), {"sql": f"SET numGroupsLimit=2; {quoted}"})
    assert resp["numRowsResultSet"] == 2
    assert resp["numGroupsLimitReached"] is True
    assert resp["resultTable"]["dataSchema"]["columnNames"] == ["it's", "n"]
    # selection (no GROUP BY): option is a no-op, like Pinot
    resp = _post(
        broker.url(),
        {"sql": "SET numGroupsLimit=2; SELECT id FROM broker_src LIMIT 5"},
    )
    assert resp["numRowsResultSet"] == 5
    assert resp["numGroupsLimitReached"] is False
