"""Tests of the benchmark's own code: seeded inputs, the answer comparison,
the statistics, and the materialization guard.

    python3 -m pytest perfbench/tests -q

None of these start Spark; the guard drives ``BenchServer.run_op`` with a
recording stand-in for the session and the registry.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _digest(directory: Path) -> dict[str, str]:
    return {
        p.name: hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(directory.glob("*.parquet"))
    }


@pytest.fixture(scope="module")
def tables_7(tmp_path_factory) -> Path:
    return gen.write_tables(7, tmp_path_factory.mktemp("seed7"))


# -- seeded inputs ---------------------------------------------------------------


def test_same_seed_gives_byte_identical_tables(tables_7, tmp_path):
    again = gen.write_tables(7, tmp_path / "again")
    assert _digest(again) == _digest(tables_7)
    assert len(_digest(tables_7)) == len(check.TABLES)


def test_other_seed_gives_other_tables(tables_7, tmp_path):
    other = _digest(gen.write_tables(8, tmp_path / "other"))
    mine = _digest(tables_7)
    # every table with seeded content changes; region and nation are fixed
    changed = {n for n in mine if mine[n] != other[n]}
    assert changed == set(mine) - {"region.parquet", "nation.parquet"}


def test_corpus_perturbation_plants_near_duplicates(tables_7):
    docs = pq.read_table(tables_7 / "documents.parquet").to_pydict()
    assert sum(t.endswith(" dup") for t in docs["text"]) == gen.N_NEAR_DUP_DOCS
    assert len(docs["text"]) - len(set(docs["text"])) >= 1  # identical-text groups
    emb = pq.read_table(tables_7 / "embeddings.parquet").column("embedding").to_pylist()
    v = np.array(emb, dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ v.T
    np.fill_diagonal(sims, 0.0)
    # the planted vectors sit at 0.45-0.9 of a source; none reaches the
    # semantic-dedup threshold, whose oracle expects a clean corpus
    assert sims.max() < 0.95
    assert (sims > 0.45).sum() // 2 >= gen.N_NEAR_VECS // 2


def test_dashboard_inputs_follow_the_seed():
    a, b, c = (gen.dashboard_statements(s) for s in (3, 3, 4))
    assert a == b and a != c
    names = tuple(a)
    assert gen.request_order(3, names, 5) == gen.request_order(3, names, 5)
    assert gen.request_order(3, names, 5) != gen.request_order(4, names, 5)
    order = gen.request_order(3, names, 5)
    assert all(order.count(n) == 5 for n in names)  # balanced rounds


def test_kdg_events_follow_the_seed():
    def lines(seed: int) -> list[dict]:
        events = gen.KdgEvents(seed)
        return [events.next(1_700_000_000_000) for _ in range(50)]

    assert lines(5) == lines(5)
    assert lines(5) != lines(6)
    ev = gen.KdgEvents(5).next(1_700_000_000_000)
    assert isinstance(ev["userID"], str) and 1 <= int(ev["userID"]) <= 100
    assert ev["campaign"] in ("BlackFriday", "10Percent", "NONE")
    assert 10 <= ev["price"] <= 150 and ev["seq"] == 1


# -- answer comparison --------------------------------------------------------------


def _table(types, rows, cols=("a", "b")):
    return {"columnNames": list(cols), "columnDataTypes": list(types), "rows": rows}


def test_compare_is_order_insensitive_and_dtype_strict():
    want = _table(["LONG", "DOUBLE"], [[1, 2.5], [2, 3.5]])
    assert check.compare(_table(["LONG", "DOUBLE"], [[2, 3.5], [1, 2.5]]), want) is None
    assert "types" in check.compare(_table(["DOUBLE", "DOUBLE"], [[1, 2.5], [2, 3.5]]), want)
    # a LONG cell that arrives as a float is a different value type
    assert check.compare(_table(["LONG", "DOUBLE"], [[1.0, 2.5], [2, 3.5]]), want)
    # a truncated answer never passes
    assert "row count" in check.compare(_table(["LONG", "DOUBLE"], [[1, 2.5]]), want)


def test_compare_tolerates_only_declared_approximate_columns():
    want = _table(["STRING", "LONG"], [["x", 1000]], cols=("k", "hll"))
    near = _table(["STRING", "LONG"], [["x", 1020]], cols=("k", "hll"))
    assert check.compare(near, want, approx_cols=("hll",)) is None
    assert check.compare(near, want) is not None


def test_duck_answer_uses_broker_encoding(tables_7):
    con = check.duck_connection(tables_7)
    got = check.duck_answer(
        con, "SELECT CAST(TIMESTAMP '2024-01-02 00:00:00' AS DATE) AS d, "
             "[CAST(1 AS BIGINT)] AS l, CAST(1.5 AS DECIMAL(4,2)) AS x"
    )
    assert got["columnDataTypes"] == ["TIMESTAMP", "LONG_ARRAY", "BIG_DECIMAL"]
    assert got["rows"] == [[1704153600000, [1], "1.50"]]


# -- statistics ----------------------------------------------------------------------


def test_percentiles_and_tail_choice():
    xs = [float(i) for i in range(1, 101)]
    assert run.percentile(xs, 50) == pytest.approx(50.5)
    assert run.tail_percentile(200) == 95.0
    assert run.tail_percentile(100) == 90.0
    assert run.tail_percentile(30) == 50.0


def test_read_schedule_offers_whole_rounds():
    n_settle, n_reads, interval = run.read_schedule(12.0, 6)
    assert n_reads % 6 == 0 and n_settle % 6 == 0 and n_settle > 0
    assert n_reads * interval == pytest.approx(12.0)
    assert n_reads / 12.0 == pytest.approx(run.READS_PER_S, rel=0.5)
    assert run.read_schedule(0.5, 6)[1] == 6  # at least one round


def test_cpu_delta_leaves_out_the_jit_compiler():
    got = run.cpu_delta((10.0, 4.0), (25.0, 9.0))
    assert got == {"work": pytest.approx(10.0), "jit": pytest.approx(5.0)}
    before = run.tree_cpu_s(os.getpid())
    sum(i * i for i in range(3_000_000))
    after = run.tree_cpu_s(os.getpid())
    assert after[0] > before[0] and after[1] == 0.0  # a Python process has no JIT threads


def test_freshness_counts_unseen_events_at_the_deadline():
    p1 = run.Op("probe", "probe", 0.0)
    p1.ok, p1.value = True, {"wall": 101.0, "error": None, "max_seq": 10}
    p2 = run.Op("probe", "probe", 0.0)
    p2.value = {"wall": 110.0, "error": run.VISIBILITY_ERROR}
    # (genMs, last seq); the third file is too recent to judge at 110 s
    files = [(100_000, 10), (100_500, 20), (109_000, 30)]
    assert run.freshness(files, [p1, p2]) == [pytest.approx(1.0), run.FRESHNESS_DEADLINE_S]


def test_self_time_excludes_children():
    tr = spans.Tracer()
    tr.enabled = True
    with tr.span("root", root=True) as root:
        with tr.span("child"):
            pass
    child = next(s for s in tr.spans if s.name == "child")
    assert child.request == root.request
    assert root.self_s == pytest.approx(root.duration - child.duration)
    tr.enabled = False
    assert tr.open("x", root=True) is None  # nothing is recorded when disabled


# -- materialization guard ---------------------------------------------------------------


class _Recorder:
    def __init__(self) -> None:
        self.log: list[str] = []


class _FakeDF:
    columns = ["n"]
    dtypes = [("n", "bigint")]

    def __init__(self, rec: _Recorder) -> None:
        self.rec = rec

    def collect(self):
        self.rec.log.append("collect")
        return [{"n": 7}]

    def count(self):  # pragma: no cover - the guard fails if this is reached
        raise AssertionError("a timed operation called count()")


class _FakeSpark:
    def __init__(self, rec: _Recorder) -> None:
        class _Catalog:
            def clearCache(self_inner):
                rec.log.append("clearCache")

        self.catalog = _Catalog()


def test_operator_runs_clear_the_cache_and_collect_every_row(monkeypatch):
    pytest.importorskip("pyspark")
    import server

    rec = _Recorder()

    class _Query:
        @staticmethod
        def builder(spark, data_dir):
            rec.log.append("build")
            return _FakeDF(rec)

    monkeypatch.setattr(server.Q, "all_queries", lambda: {"op": _Query})
    srv = object.__new__(server.BenchServer)
    srv.spark = _FakeSpark(rec)
    srv.data_dir = "unused"
    srv.tracer = None
    srv._op_lock = __import__("threading").Lock()
    first = srv.run_op("op")
    srv.run_op("op")
    assert rec.log == ["clearCache", "build", "collect"] * 2
    assert first["rows"] == [[7]] and first["columnDataTypes"] == ["LONG"]


def test_no_timed_path_uses_count():
    for name in ("run.py", "server.py"):
        source = (HERE / name).read_text()
        assert ".count()" not in source, name


def test_benchmark_json_matches_the_harness():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == ["ingest_mixed", "corpus_batch"]
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PER_LAYER)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
