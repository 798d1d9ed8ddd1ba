"""The engine process the benchmark drives.

    python3 perfbench/server.py --data DIR --work DIR [--no-broker] [--trace]

Builds the engine's SparkSession at ``local[<cores>]``.  Unless
``--no-broker``, it registers the generated fixture tables with
``catalog.register_tables`` and serves the reference's two wire surfaces: the broker (``POST /query/sql``) and the
controller (``POST /schemas``, ``POST /tables``).  A third, benchmark-only
endpoint runs what has no wire surface: registry operators for the
``corpus_batch`` workload, a fixed calibration job, and read-outs of the
ingest pipeline and of the trace.  It prints one ``READY <json>`` line with
the ports once it serves, and exits after ``POST /stop``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

from real_time_analytics_with_apache_pinot_on_aws_spark import catalog
from real_time_analytics_with_apache_pinot_on_aws_spark import queries as Q
from real_time_analytics_with_apache_pinot_on_aws_spark.broker_http import start_broker
from real_time_analytics_with_apache_pinot_on_aws_spark.controller_http import start_controller
from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine
from real_time_analytics_with_apache_pinot_on_aws_spark.operators import dedup
from real_time_analytics_with_apache_pinot_on_aws_spark.session import build_session

_TYPES = {
    "bigint": "LONG", "int": "INT", "smallint": "INT", "tinyint": "INT",
    "double": "DOUBLE", "float": "FLOAT", "string": "STRING", "boolean": "BOOLEAN",
    "date": "TIMESTAMP", "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
}


def _wire_type(dtype: str) -> str:
    if dtype.startswith("array<") and dtype.endswith(">"):
        return _wire_type(dtype[6:-1]) + "_ARRAY"
    if dtype.startswith("decimal"):
        return "BIG_DECIMAL"
    return _TYPES.get(dtype, dtype.upper())


def _wire_value(v):
    import datetime as dt
    import decimal

    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return int(v.timestamp() * 1000)
    if isinstance(v, dt.date):
        return int(dt.datetime(v.year, v.month, v.day, tzinfo=dt.timezone.utc).timestamp() * 1000)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, list):
        return [_wire_value(x) for x in v]
    return v


class BenchServer:
    def __init__(self, data_dir: str, work_dir: Path, broker: bool, traced: bool) -> None:
        t0 = time.perf_counter()
        cores = len(os.sched_getaffinity(0))
        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{cores}]",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.data_dir = data_dir
        self.register_s = 0.0
        self.engine = self.broker = self.controller = None
        if broker:
            # registry builders register the tables themselves on first use,
            # so only the broker workloads register them here
            t1 = time.perf_counter()
            catalog.register_tables(self.spark, data_dir)
            self.engine = Engine(self.spark, str(work_dir / "warehouse"))
            self.register_s = time.perf_counter() - t1
            self.broker = start_broker(self.engine, port=0)
            self.controller = start_controller(self.engine, port=0)
        self.tracer = None
        if traced:
            from spans import Tracer, install

            self.tracer = Tracer()
            install(self.spark, self.tracer)
        self.stopped = threading.Event()
        self._op_lock = threading.Lock()

    # -- benchmark-only calls --------------------------------------------------

    def run_op(self, name: str) -> dict:
        """One corpus operator as a batch job: drop cached relations, call the
        registry builder, materialize every row with ``collect``."""
        with self._op_lock:
            self.spark.catalog.clearCache()
            builder = Q.all_queries()[name].builder
            t0 = time.perf_counter()
            if self.tracer is not None and self.tracer.enabled:
                df, rows = self._traced_op(name, builder)
            else:
                df = builder(self.spark, self.data_dir)
                rows = df.collect()
            seconds = time.perf_counter() - t0
        return {
            "seconds": seconds,
            "columnNames": df.columns,
            "columnDataTypes": [_wire_type(t) for _, t in df.dtypes],
            "rows": [[_wire_value(r[c]) for c in df.columns] for r in rows],
        }

    def _traced_op(self, name: str, builder):
        """``run_op`` with spans around the builder call, the forced plan and
        the collect, under a job group for the status tracker."""
        from spans import job_counters, plan_counters

        tr = self.tracer
        sc = self.spark.sparkContext
        root = tr.open("op", root=True)
        group = f"bench-op-{root.request}"
        sc.setJobGroup(group, name, False)
        try:
            with tr.span(f"{name}.build"):
                df = builder(self.spark, self.data_dir)
            with tr.span(f"{name}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span(f"{name}.execute"):
                rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            with tr.span("trace.counters"):
                root.attrs.update(job_counters(sc, group))
            tr.close(root)
        root.attrs.update(plan_counters(df._jdf))
        root.attrs["op"] = name
        return df, rows

    def dedup_counts(self) -> dict:
        """Candidate and verified MinHash pairs at the registry's settings:
        threshold 0.0 keeps every banded candidate, 0.5 is production."""
        docs = self.spark.table("documents")
        kw = dict(num_hashes=16, bands=8, shingle_n=3)
        cand = dedup.minhash_lsh_pairs(docs, "doc_id", "text", jaccard_threshold=0.0, **kw)
        ver = dedup.minhash_lsh_pairs(docs, "doc_id", "text", jaccard_threshold=0.5, **kw)
        return {"candidate_pairs": len(cand.collect()), "verified_pairs": len(ver.collect())}

    def calibrate(self) -> dict:
        """A fixed pure-CPU Spark job, timed; it drifts with the machine, not
        with the code under test."""
        t0 = time.perf_counter()
        self.spark.range(0, 20_000_000, numPartitions=8).selectExpr(
            "sum(hash(id, id * 7))"
        ).collect()
        return {"seconds": time.perf_counter() - t0}

    def jvm(self) -> dict:
        """Garbage-collection and JIT-compilation time of the driver JVM so
        far, read from its management beans."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return {"gc_s": gc_ms / 1000.0,
                "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0}

    def progress(self) -> dict:
        return {
            "progress": [
                json.loads(p.json) for q in self.spark.streams.active for p in q.recentProgress
            ]
        }

    def ingest_state(self, table: str, drain: bool) -> dict:
        """Rows, sum(price) and per-row commit lag read through
        ``IngestPipeline.table()``, plus timed ``table()`` calls and the
        committed files on disk."""
        pipe = self.engine.pipelines[table]
        if drain:
            pipe.process_available()
        opens = []
        for _ in range(3):
            t0 = time.perf_counter()
            df = pipe.table()
            opens.append(time.perf_counter() - t0)
        r = df.selectExpr(
            "count(*) AS n",
            "CAST(coalesce(sum(price), 0) AS BIGINT) AS price_sum",
            "coalesce(max(seq), 0) AS max_seq",
            "percentile(unix_millis(_metadata.file_modification_time) - genMs, 0.5) AS lag50",
            "percentile(unix_millis(_metadata.file_modification_time) - genMs, 0.95) AS lag95",
        ).collect()[0]
        files = nbytes = 0
        for dirpath, _dirs, names in os.walk(pipe.table_path):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
        return {
            "rows": r["n"], "price_sum": r["price_sum"], "max_seq": r["max_seq"],
            "commit_lag_p50_s": (r["lag50"] or 0.0) / 1000.0,
            "commit_lag_p95_s": (r["lag95"] or 0.0) / 1000.0,
            "table_open_s": sorted(opens)[1],
            "files": files, "bytes": nbytes,
        }

    def trace(self, on: bool | None, dump: str | None) -> dict:
        tr = self.tracer
        if tr is None:
            return {"traced": False}
        if on is not None:
            tr.enabled = on
        out = {"traced": True}
        if dump:
            from spans import Tracer

            spans = tr.take()
            Tracer.dump(spans, Path(dump))
            out["spans"] = len(spans)
        return out

    def stop(self) -> None:
        if self.engine is not None:
            self.broker.stop()
            self.controller.stop()
            self.engine.stop()
        self.spark.stop()

    # -- HTTP ----------------------------------------------------------------

    def serve(self) -> ThreadingHTTPServer:
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_POST(self):
                n = int(self.headers.get("Content-Length", "0"))
                body = json.loads(self.rfile.read(n) or b"{}")
                try:
                    if self.path == "/op":
                        out = outer.run_op(body["name"])
                    elif self.path == "/dedup_counts":
                        out = outer.dedup_counts()
                    elif self.path == "/calibrate":
                        out = outer.calibrate()
                    elif self.path == "/jvm":
                        out = outer.jvm()
                    elif self.path == "/progress":
                        out = outer.progress()
                    elif self.path == "/ingest":
                        out = outer.ingest_state(body["table"], body.get("drain", False))
                    elif self.path == "/trace":
                        out = outer.trace(body.get("on"), body.get("dump"))
                    elif self.path == "/stop":
                        out = {"stopping": True}
                        outer.stopped.set()
                    else:
                        self.send_error(404)
                        return
                    code = 200
                except Exception as e:  # reported to the benchmark as a failed call
                    out, code = {"error": f"{type(e).__name__}: {e}"[:2000]}, 500
                payload = json.dumps(out).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=httpd.serve_forever, name="bench-http", daemon=True).start()
        return httpd


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--no-broker", action="store_true")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    # Spark's block and shuffle files and every temporary file stay under the
    # run directory the benchmark removes
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "local")):
        os.environ[var] = str(Path(args.work) / sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # every JVM the session starts, the launcher's included; a fixed set of
    # JIT compiler threads, so the benchmark can tell their CPU time apart
    # for the whole run
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    server = BenchServer(args.data, Path(args.work), not args.no_broker, args.trace)
    httpd = server.serve()
    ready = {
        "broker": server.broker.port if server.broker else None,
        "controller": server.controller.port if server.controller else None,
        "bench": httpd.server_address[1],
        "session_s": server.session_s,
        "register_s": server.register_s,
    }
    print("READY " + json.dumps(ready), flush=True)
    server.stopped.wait()
    httpd.shutdown()
    server.stop()
    sys.exit(0)


if __name__ == "__main__":
    main()
