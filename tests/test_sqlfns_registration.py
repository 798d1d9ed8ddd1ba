"""First-use registration of the Pinot scalar functions (functions/sqlfns.py).

Each test runs on a ``spark.newSession()``: a new session has its own
temporary-function catalog, so nothing registered by another test is
visible there.
"""

from __future__ import annotations

import sys
import threading
from collections import Counter

import pytest

from real_time_analytics_with_apache_pinot_on_aws_spark import broker_http
from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine
from real_time_analytics_with_apache_pinot_on_aws_spark.functions import sqlfns
from real_time_analytics_with_apache_pinot_on_aws_spark.streaming import (
    RawRecordSource,
)
from tests.test_broker_http import _post
from tests.test_schema import CLICKSTREAM_SCHEMA
from tests.test_streaming_engine import TABLE_CONFIG, _write_events


def _user_functions(session) -> set[str]:
    return {r[0].upper() for r in session.sql("SHOW USER FUNCTIONS").collect()}


@pytest.fixture
def fresh(spark):
    return spark.newSession()


def test_engine_construction_registers_nothing(fresh, tmp_path):
    Engine(fresh, str(tmp_path / "wh"))
    assert _user_functions(fresh) == set()


def test_register_calls_reads_code_only_and_adds_dependencies(fresh):
    sqlfns.register_calls(
        fresh,
        "SELECT COSINEDISTANCE(a, b), 'ARRAYMIN(x)' -- TOEPOCHDAYS(t)\n"
        "FROM t /* REMOVE(s, 'e') */",
    )
    # the body of COSINEDISTANCE calls VECTORNORM and INNERPRODUCT
    assert _user_functions(fresh) == {"COSINEDISTANCE", "VECTORNORM", "INNERPRODUCT"}
    # a name Spark refuses to shadow stays its builtin, recorded as skipped
    sqlfns.register(fresh, "substr")
    assert "SUBSTR" not in _user_functions(fresh)
    assert "SUBSTR" in sqlfns.register_all(fresh)
    assert len(_user_functions(fresh)) == len(sqlfns._BY_NAME) - 6


def test_concurrent_first_use_creates_each_function_once(fresh, monkeypatch):
    """Eight threads (more than the cores) register overlapping names at
    once: every function is created exactly once, dependencies included."""
    created: Counter = Counter()
    real_sql = fresh.sql

    def counting_sql(text, *a, **k):
        if text.startswith("CREATE OR REPLACE TEMPORARY FUNCTION"):
            created[text.split()[5].split("(")[0]] += 1
        return real_sql(text, *a, **k)

    monkeypatch.setattr(fresh, "sql", counting_sql)
    names = ("ISSUBNETOF", "COSINEDISTANCE", "REMOVE", "VECTORNORM")
    start = threading.Barrier(8)

    def worker(i: int) -> None:
        start.wait()
        sqlfns.register(fresh, *names[i % 2 :], *names[: i % 2])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert set(created.values()) == {1}
    assert set(created) == {
        "ISSUBNETOF", "PINOT_IPV6_LO", "PINOT_IPV6_HI", "PINOT_IPV6_GROUPS",
        "PINOT_IPV6_PAD", "STARTSWITH", "ENDSWITH", "COSINEDISTANCE",
        "VECTORNORM", "INNERPRODUCT", "REMOVE",
    }


def test_first_use_answers_in_process_and_from_two_broker_threads(fresh, tmp_path):
    engine = Engine(fresh, str(tmp_path / "wh"))
    row = engine.query(
        "SELECT TOEPOCHDAYS(172800000) AS d, REMOVE('banana', 'an') AS r"
    ).collect()[0]
    assert (row["d"], row["r"]) == (2, "ba")

    statements = {
        "SELECT ISSUBNETOF('10.0.0.0/8', '10.1.2.3') AS v": [[True]],
        "SELECT round(COSINEDISTANCE(array(1.0D, 0.0D), array(0.0D, 1.0D)), 6)"
        " AS v": [[1.0]],
    }
    srv = broker_http.start_broker(engine, port=0)
    start = threading.Barrier(len(statements) * 2)
    answers: list = []

    def ask(sql: str) -> None:
        start.wait()
        answers.append((sql, _post(srv.url(), {"sql": sql})))

    try:
        threads = [
            threading.Thread(target=ask, args=(sql,))
            for sql in statements
            for _ in range(2)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        srv.stop()
    assert len(answers) == 4
    for sql, resp in answers:
        assert resp["exceptions"] == [], resp["exceptions"]
        assert resp["resultTable"]["rows"] == statements[sql]


def test_routed_statement_routes_on_first_use(fresh, tmp_path):
    """The MV-distinct route classifies a Pinot scalar beside the target
    through the catalog, so the scalar must be registered before the route
    looks: the first statement of a fresh engine still takes the bounded
    exploded plan."""
    fresh.sql(
        "SELECT * FROM VALUES ('ab', array(1, 2, 3)), ('ab', array(3, 2, 1)),"
        " ('cd', array(7)) AS t(g, tags)"
    ).createOrReplaceTempView("mvfresh")
    engine = Engine(fresh, str(tmp_path / "wh"))
    df = engine.query(
        "SELECT REMOVE(g, 'b') AS k, DISTINCTCOUNTMV(tags) AS n "
        "FROM mvfresh GROUP BY REMOVE(g, 'b') ORDER BY k"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan and "collect_set" not in plan
    assert [(r["k"], r["n"]) for r in df.collect()] == [("a", 3), ("cd", 1)]


def test_ingest_transform_calls_a_pinot_function_on_a_fresh_session(
    fresh, tmp_path
):
    src_dir = tmp_path / "stream_in"
    config = dict(TABLE_CONFIG)
    config["tableName"] = "freshTransformed"
    config["ingestionConfig"] = {
        "transformConfigs": [
            {"columnName": "campaign",
             "transformFunction": "REMOVE(campaign, 'e')"},
        ],
        "filterConfig": {"filterFunction": "CONTAINSSTR(campaign, 'NON')"},
    }
    _write_events(src_dir / "b1.json", 9, "2024-06-01")
    engine = Engine(fresh, str(tmp_path / "wh"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, config,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    try:
        pipe.process_available()
        got = sorted({r["campaign"] for r in pipe.table().collect()})
    finally:
        pipe.stop()
    # 'NONE' rows are dropped by the filter; 'e' is removed from the rest
    assert got == ["10Prcnt", "BlackFriday"]
    assert {"REMOVE", "CONTAINSSTR"} <= _user_functions(fresh)
