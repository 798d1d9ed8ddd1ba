"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {ingest_mixed,corpus_batch}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The command generates every input from
``--seed`` (``perfbench/gen.py``), starts the engine in its own process
(``perfbench/server.py``, ``local[<cores>]``), drives it from this process
with at most three threads, checks every answer, and prints two JSON lines:
a report with every metric of the workload by name and unit, then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the run
measures one untraced window, then one traced window with the layer wrappers
of ``perfbench/spans.py`` installed, and the metrics are the per-layer ones.

Workloads:

- ``ingest_mixed``: ``kinesisTable`` is provisioned through the controller
  only; an open-loop writer drops KDG-shaped event files at a fixed rate,
  one open-loop reader sends the events-only dashboard statements
  (flagship aggregate, Pinot aggregate spellings, the routed FUNNELCOUNT,
  JSONEXTRACTSCALAR, a top-k, a ranking window) over the fixture ``events``
  table at a fixed rate, and an open-loop prober sends
  ``SELECT max(seq) FROM kinesisTable``.
- ``corpus_batch``: one caller runs LLM-data operators through their
  registry builders, each result fully collected after ``clearCache()``.

The end-to-end metrics held to a bound are ``setup_s`` and ``cpu_s_per_op``,
the engine's CPU seconds per operation.  Every load is offered on a fixed
schedule or in whole passes, so a window holds the same work on every run and
CPU time measures its cost; on a shared host it moves far less with the
neighbours' load than wall-clock latency or throughput, which the report line
carries without a bound.

Correctness: broker answers are checked once per distinct statement against
DuckDB and every later answer against that checked one; operator results
against their registry oracle; ingest by row count and ``sum(price)`` after
the stream drains.  A broker probe of ``kinesisTable`` answered with
errorCode 700 (table not found) is the visibility gap being measured: it
counts as a freshness miss and in the report's ``error_frac``, but not as a
failed operation in the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import select
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402

PACKAGE = "real_time_analytics_with_apache_pinot_on_aws_spark"
WORKLOADS = ("ingest_mixed", "corpus_batch")
# One operator per module family: dedup (MinHash banded join), similarity
# with the Arrow cell-pair kernel and the dedup label loop (c23), curation
# (DSIR).  c1_dedup_embedding_lsh and c2_cosine_topk_lsh are left out to keep
# a run inside the benchmark's time budget.
CORPUS_OPS = (
    "c1_dedup_minhash_lsh",
    "c23_semantic_dedup",
    "c27_dsir_selection",
)
OFFERED_EVENTS_PER_S = 1000
FILES_PER_S = 4
PROBE_INTERVAL_S = 0.5
PROBE_SQL = "SELECT max(seq) FROM kinesisTable"
FRESHNESS_DEADLINE_S = 4.0
VISIBILITY_ERROR = 700  # Pinot QUERY_VALIDATION: table not found
CALIB_DRIFT_BOUND = 0.25
LATE_BOUND_S = 0.1
# dashboard reads offered per second on ingest_mixed: below what one client
# completes on 4 cores (about 2.5/s), so the reader keeps its schedule
READS_PER_S = 1.5
# unmeasured ingest_mixed traffic before the window, and one unmeasured
# corpus_batch pass after the warm-up one: the second pass of an operator runs
# about a quarter faster than the first, while the JIT compiler catches up
SETTLE_S = 16.0
# about how long one warm corpus_batch pass takes on 4 cores
CORPUS_PASS_S = 12.0
READY_TIMEOUT_S = 120.0
REQUEST_TIMEOUT_S = 120.0


# -- small helpers --------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def tail_percentile(n: int) -> float:
    """The highest of p95/p90/p75/p50 with at least ten samples beyond it."""
    for q in (95.0, 90.0, 75.0, 50.0):
        if n * (100.0 - q) / 100.0 >= 10:
            return q
    return 50.0


def post(url: str, payload: dict, timeout: float = REQUEST_TIMEOUT_S) -> tuple[int, bytes]:
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(), headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _tree(root_pid: int) -> list[tuple[int, list[str]]]:
    """``root_pid`` and all its descendants, each with the fields of its
    ``/proc/<pid>/stat`` line after the command name."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    out = []
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            out.append((pid, stats[pid]))
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Summed resident memory of ``root_pid`` and all its descendants."""
    total_kb = 0
    for pid, _ in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # names as /proc truncates them


def tree_cpu_s(root_pid: int) -> tuple[float, float]:
    """CPU seconds (user + system) spent so far by ``root_pid`` and all its
    descendants, including children they have already reaped; and the part
    of it spent by JVM JIT compiler threads."""
    total = jit = 0
    for pid, fields in _tree(root_pid):
        total += sum(int(fields[i]) for i in (11, 12, 13, 14))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().strip() not in JIT_THREADS:
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    t = f.read().rsplit(")", 1)[1].split()
                jit += int(t[11]) + int(t[12])
            except (OSError, IndexError):
                continue
    return total / CLOCK_TICKS, jit / CLOCK_TICKS


def cpu_delta(before: tuple[float, float], after: tuple[float, float]) -> dict[str, float]:
    """Engine CPU between two ``tree_cpu_s`` readings: the JIT compiler's
    share, and the rest, which is the work the operations caused."""
    jit = after[1] - before[1]
    return {"work": after[0] - before[0] - jit, "jit": jit}


class Op:
    """One timed operation as the client saw it."""

    __slots__ = ("kind", "name", "start", "end", "ok", "nbytes", "value")

    def __init__(self, kind: str, name: str, start: float) -> None:
        self.kind = kind
        self.name = name
        self.start = start
        self.end = start
        self.ok = False
        self.nbytes = 0
        self.value = None

    @property
    def latency(self) -> float:
        return self.end - self.start


# -- the engine process ---------------------------------------------------------


class EngineProcess:
    def __init__(self, root: Path, run_dir: Path, data_dir: Path, broker: bool,
                 traced: bool) -> None:
        work = run_dir / "work"
        work.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            [str(root), str(HERE)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
        )
        cmd = [sys.executable, str(HERE / "server.py"), "--data", str(data_dir), "--work", str(work)]
        if not broker:
            cmd.append("--no-broker")
        if traced:
            cmd.append("--trace")
        self.log_path = run_dir / "engine.log"
        self._log = open(self.log_path, "wb")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=self._log,
            start_new_session=True,
        )
        self.peak_rss_mb = 0.0
        try:
            self.ready = self._await_ready()
        except BaseException:
            _end_group(self.proc.pid)
            self.proc.wait()
            self.proc.stdout.close()
            self._log.close()
            raise
        self.broker_url = f"http://127.0.0.1:{self.ready['broker']}/query/sql"
        self.controller_url = f"http://127.0.0.1:{self.ready['controller']}"
        self.bench_url = f"http://127.0.0.1:{self.ready['bench']}"

    def _await_ready(self) -> dict:
        deadline = time.monotonic() + READY_TIMEOUT_S
        buf = b""
        fd = self.proc.stdout.fileno()
        while time.monotonic() < deadline:
            r, _, _ = select.select([fd], [], [], 0.25)
            self.sample_rss()
            if r:
                chunk = os.read(fd, 65536)
                if not chunk:
                    break
                buf += chunk
                for line in buf.split(b"\n"):
                    if line.startswith(b"READY "):
                        return json.loads(line[6:])
        raise RuntimeError(f"engine did not start; see {self.log_path}")

    def sample_rss(self) -> None:
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.proc.pid))

    def broker(self, sql: str, op: Op) -> dict | None:
        """Send one statement; fills ``op`` and returns the envelope."""
        try:
            status, body = post(self.broker_url, {"sql": sql})
        except OSError:
            op.end = time.perf_counter()
            return None
        op.end = time.perf_counter()
        op.nbytes = len(body)
        return json.loads(body) if status == 200 else None

    def bench(self, path: str, payload: dict | None = None) -> dict:
        status, body = post(self.bench_url + path, payload or {})
        out = json.loads(body)
        if status != 200:
            raise RuntimeError(f"{path}: {out.get('error')}")
        return out

    def stop(self) -> None:
        """Ask the engine to exit, then make sure its whole process group
        (driver, JVM, Python workers) has ended."""
        try:
            if self.proc.poll() is None:
                post(self.bench_url + "/stop", {}, timeout=10)
                self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            pass
        finally:
            _end_group(self.proc.pid)
            self.proc.wait()
            self.proc.stdout.close()
            self._log.close()


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[2]) == pgid and fields[0] != "Z":
                    return True
            except (OSError, IndexError, ValueError):
                continue
    return False


def _end_group(pgid: int) -> None:
    for sig, wait_s in ((signal.SIGTERM, 15.0), (signal.SIGKILL, 15.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline and _group_alive(pgid):
            time.sleep(0.1)


# -- a run ------------------------------------------------------------------------


class Run:
    """State shared by the workloads: the engine, the checked answers, the
    operation log and the failure count."""

    def __init__(self, args, root: Path, run_dir: Path) -> None:
        self.args = args
        self.root = root
        self.run_dir = run_dir
        self.data_dir = run_dir / "data"
        self.traced = bool(args.trace)
        self.failures: list[str] = []
        self.attempted = 0
        self.lock = threading.Lock()
        self.engine: EngineProcess | None = None
        self.setup: dict[str, float] = {}
        self.report: dict[str, dict] = {}
        self.checked: dict[str, dict] = {}

    def fail(self, what: str) -> None:
        with self.lock:
            self.failures.append(what)

    def attempt(self, n: int = 1) -> None:
        with self.lock:
            self.attempted += n

    def metric(self, name: str, value: float, unit: str, **extra) -> None:
        self.report[name] = {"value": value, "unit": unit, **extra}

    # -- broker requests ---------------------------------------------------------

    def checked_request(self, name: str, stmt: gen.Statement, want: dict,
                        due: float | None = None) -> Op:
        """One broker statement, checked; an open-loop request is timed from
        when it was ``due``, so a stall also counts against the ones after."""
        op = Op("query", name, time.perf_counter() if due is None else due)
        env = self.engine.broker(stmt.wire, op)
        self.attempt()
        got = check.result_table(env) if env is not None else None
        if got is None:
            self.fail(f"{name}: error envelope {env and env.get('exceptions')}")
            return op
        err = check.compare(got, want, stmt.approx_cols)
        if err:
            self.fail(f"{name}: {err}")
            return op
        op.ok = True
        op.value = got
        return op

    def duck_answers(self, stmts: dict[str, gen.Statement]) -> dict[str, dict]:
        """DuckDB's answer to each distinct statement; the warm pass checks
        the broker against it."""
        con = check.duck_connection(self.data_dir)
        oracle = {n: check.duck_answer(con, s.oracle) for n, s in stmts.items()}
        con.close()
        return oracle

    def calibrate(self) -> float:
        return statistics.median(self.engine.bench("/calibrate")["seconds"] for _ in range(3))


def latency_metrics(run: Run, ops: list[Op]) -> None:
    """Median and p95 client latency; p95 is marked valid only with ten
    samples beyond it, and the highest percentile that has them is given."""
    lat = [o.latency for o in ops if o.ok]
    q = tail_percentile(len(lat))
    run.metric("query_p50_s", percentile(lat, 50), "s", n=len(lat))
    run.metric("query_p95_s", percentile(lat, 95), "s", n=len(lat),
               valid=len(lat) * 0.05 >= 10, tail_q=q, tail_s=percentile(lat, q))


def completed_per_s(ops: list[Op], t0: float) -> float:
    """Correct answers per second, from the window start to the last answer."""
    ok = [o for o in ops if o.ok]
    return len(ok) / (max(o.end for o in ok) - t0) if ok else 0.0


# -- ingest_mixed -----------------------------------------------------------------


def provision_kinesis_table(run: Run, stream_dir: Path) -> None:
    t = time.perf_counter()
    for path, body in (
        ("/schemas", gen.KINESIS_SCHEMA),
        ("/tables", gen.kinesis_table_config(str(stream_dir))),
    ):
        status, resp = post(run.engine.controller_url + path, body)
        run.attempt()
        if status != 200:
            run.fail(f"controller {path}: {status} {resp[:300]!r}")
    run.setup["setup.add_table_s"] = time.perf_counter() - t


def probe(run: Run, due: float) -> Op:
    """One visibility probe; ``value`` holds the wall clock of the answer and
    either ``max_seq`` or the ``error`` code (None for a transport error)."""
    op = Op("probe", "probe", due)
    env = run.engine.broker(PROBE_SQL, op)
    op.value = {"wall": time.time(), "error": None}
    if env is None:
        return op
    if env.get("exceptions"):
        codes = {e.get("errorCode") for e in env["exceptions"]}
        op.value["error"] = codes.pop() if len(codes) == 1 else -1
        return op
    rows = env["resultTable"]["rows"]
    op.ok = True
    op.value["max_seq"] = rows[0][0] if rows and rows[0][0] is not None else 0
    return op


def sleep_until(due: float) -> float:
    """Sleep until ``perf_counter()`` reaches ``due``; returns the lateness."""
    now = time.perf_counter()
    if due > now:
        time.sleep(due - now)
    return max(0.0, time.perf_counter() - due)


def read_schedule(seconds: float, n_statements: int) -> tuple[int, int, float]:
    """Whole rounds of the mix at about ``READS_PER_S``: the number of settle
    reads, of measured reads, and the interval between two reads."""
    rounds = max(1, round(seconds * READS_PER_S / n_statements))
    n_reads = rounds * n_statements
    interval = seconds / n_reads
    n_settle = n_statements * max(1, round(SETTLE_S / interval / n_statements))
    return n_settle, n_reads, interval


def run_ingest(run: Run, stmts, names, stream_dir: Path, staging: Path, events: gen.KdgEvents,
               totals: dict) -> dict:
    """Writer (this thread), one open-loop reader, one open-loop prober.  All
    three start a settle period before the measured window, so that it
    starts with a warm read path and a running stream.  Every load is offered
    on a fixed schedule, so a window holds the same work on every run and the
    engine's CPU time over it measures what that work costs."""
    seconds = run.args.seconds
    n_settle, n_reads, interval = read_schedule(seconds, len(names))
    order = gen.request_order(run.args.seed, names, rounds=(n_settle + n_reads) // len(names))
    reads: list[Op] = []
    settle_ops: list[Op] = []
    probes: list[Op] = []
    files: list[tuple[float, int]] = []  # (genMs, last seq)
    late: list[float] = []
    read_late: list[float] = []
    cpu: list[tuple[float, float]] = []  # engine CPU at each measured round's start, and at the end
    pid = run.engine.proc.pid
    t_start = time.perf_counter()
    t0 = t_start + n_settle * interval
    t0_wall = time.time() + n_settle * interval
    t_end = t0 + seconds

    def reader() -> None:
        for i, name in enumerate(order):
            due = t_start + i * interval
            lateness = sleep_until(due)
            if i >= n_settle and (i - n_settle) % len(names) == 0:
                cpu.append(tree_cpu_s(pid))
            if i >= n_settle:
                read_late.append(lateness)
            op = run.checked_request(name, stmts[name], run.checked[name], due)
            (settle_ops if i < n_settle else reads).append(op)
        sleep_until(t_end)
        cpu.append(tree_cpu_s(pid))

    def prober() -> None:
        i = 0
        while t_start + i * PROBE_INTERVAL_S <= t_end:
            due = t_start + i * PROBE_INTERVAL_S
            late.append(sleep_until(due))
            probes.append(probe(run, due))
            i += 1

    reader_t = threading.Thread(target=reader)
    prober_t = threading.Thread(target=prober)
    reader_t.start()
    prober_t.start()
    per_file = OFFERED_EVENTS_PER_S // FILES_PER_S
    i = 0
    while t_start + i / FILES_PER_S < t_end:
        late.append(sleep_until(t_start + i / FILES_PER_S))
        gen_ms = int(time.time() * 1000)
        start_seq = events.seq
        lines = []
        for _ in range(per_file):
            ev = events.next(gen_ms)
            totals["price_sum"] += ev["price"]
            lines.append(json.dumps(ev))
        payload = ("\n".join(lines) + "\n").encode()
        totals["files"] += 1
        tmp = staging / f"part-{totals['files']:06d}.json"
        tmp.write_bytes(payload)
        os.replace(tmp, stream_dir / tmp.name)
        totals["rows"] += events.seq - start_seq
        totals["bytes"] += len(payload)
        files.append((gen_ms, events.seq))
        run.engine.sample_rss()
        i += 1
    reader_t.join()
    prober_t.join()
    run.attempt(len(files))
    return {"ops": reads, "probes": probes, "files": files, "late": late,
            "read_late": read_late, "t0": t0, "t_end": t_end, "window": seconds,
            "written": totals["rows"], "settle_ops": settle_ops,
            "cpu": cpu_delta(cpu[0], cpu[-1]),
            "round_cpu_s": [cpu_delta(a, b)["work"] for a, b in zip(cpu, cpu[1:])],
            "wall": (t0_wall, t0_wall + seconds)}


def freshness(files: list[tuple[float, int]], probes: list[Op]) -> list[float]:
    """Per event file: seconds from its genMs to the first probe answer whose
    max(seq) covers it, or the deadline when none did in time.  Files written
    less than a deadline before the last probe are not judged."""
    answers = sorted((o.value["wall"], o.value["max_seq"]) for o in probes if o.ok)
    last_probe = max((o.value["wall"] for o in probes), default=0.0)
    out = []
    for gen_ms, last_seq in files:
        t_gen = gen_ms / 1000.0
        if t_gen + FRESHNESS_DEADLINE_S > last_probe:
            continue
        seen = next(
            (t - t_gen for t, max_seq in answers if t >= t_gen and max_seq >= last_seq), None
        )
        out.append(FRESHNESS_DEADLINE_S if seen is None or seen > FRESHNESS_DEADLINE_S else seen)
    return out


def ingest_progress(run: Run, t0_wall: float, t_end_wall: float) -> list[dict]:
    """Micro-batch progress reports that started inside a window, given in
    wall-clock seconds."""
    import datetime as dt

    out = []
    for p in run.engine.bench("/progress")["progress"]:
        ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=dt.timezone.utc).timestamp()
        p["_start"] = ts
        p["_end"] = ts + p["durationMs"].get("triggerExecution", 0) / 1000.0
        if t0_wall <= ts <= t_end_wall:
            out.append(p)
    return out


# -- corpus_batch -----------------------------------------------------------------


def corpus_oracles(run: Run) -> dict[str, dict]:
    from real_time_analytics_with_apache_pinot_on_aws_spark import queries as Q

    reg = Q.all_queries()
    con = check.duck_connection(run.data_dir)
    out = {n: check.duck_answer(con, reg[n].oracle) for n in CORPUS_OPS}
    con.close()
    return out


def run_op(run: Run, name: str, want: dict) -> Op:
    op = Op("op", name, time.perf_counter())
    run.attempt()
    try:
        got = run.engine.bench("/op", {"name": name})
    except (RuntimeError, OSError) as e:
        op.end = time.perf_counter()
        run.fail(f"{name}: {e}")
        return op
    op.end = time.perf_counter()
    err = check.compare(got, want)
    if err:
        run.fail(f"{name}: {err}")
        return op
    op.ok = True
    return op


def run_corpus(run: Run, oracles: dict[str, dict], pass_no: int) -> dict:
    """One unmeasured settle pass, then whole passes over the operators,
    each in a seeded order.  The number of passes follows from ``--seconds``
    alone, not from how fast they run, so a window holds the same work on
    every run."""
    n_passes = max(1, round(run.args.seconds / CORPUS_PASS_S))
    rng = random.Random(f"{run.args.seed}-corpus-{pass_no}")
    settle_ops: list[Op] = []
    ops: list[Op] = []
    passes: list[float] = []
    stop = threading.Event()

    def sampler() -> None:
        while not stop.wait(0.25):
            run.engine.sample_rss()

    samp = threading.Thread(target=sampler)
    samp.start()
    try:
        for i in range(1 + n_passes):
            if i == 1:
                t0 = time.perf_counter()
                cpu0 = tree_cpu_s(run.engine.proc.pid)
            names = list(CORPUS_OPS)
            rng.shuffle(names)
            p0 = time.perf_counter()
            for n in names:
                (settle_ops if i == 0 else ops).append(run_op(run, n, oracles[n]))
            if i > 0:
                passes.append(time.perf_counter() - p0)
    finally:
        stop.set()
        samp.join()
    return {"ops": ops, "settle_ops": settle_ops, "passes": passes, "t0": t0,
            "t_end": time.perf_counter(), "window": time.perf_counter() - t0,
            "cpu": cpu_delta(cpu0, tree_cpu_s(run.engine.proc.pid))}


# -- per-layer metrics from the trace ------------------------------------------------


PER_LAYER: tuple[tuple[str, str], ...] = (
    ("setup.session_s", "s"), ("setup.register_s", "s"),
    ("setup.add_table_s", "s"), ("setup.warm_s", "s"),
    ("broker_http.self_s", "s"), ("broker_http.response_bytes", "bytes"),
    ("engine.query_s", "s"), ("engine.query_jobs", "count"), ("engine.envelope_s", "s"),
    ("aggsql.rewrite_s", "s"), ("aggsql.route_hits", "count"),
    ("catalyst.plan_s", "s"),
    ("exec.collect_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.scan_rows", "count"), ("exec.scan_bytes", "bytes"),
    ("exec.files_read", "count"), ("exec.shuffle_bytes", "bytes"),
    ("exec.broadcast_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.python_bytes", "bytes"), ("exec.result_rows", "count"),
    ("exec.rows_per_result", "count"),
    ("ingest.batches", "count"), ("ingest.trigger_s", "s"), ("ingest.add_batch_s", "s"),
    ("ingest.offset_s", "s"), ("ingest.log_s", "s"), ("ingest.busy_frac", "fraction"),
    ("ingest.backlog_rows", "count"), ("ingest.commit_lag_p50_s", "s"),
    ("ingest.commit_lag_p95_s", "s"), ("ingest.files", "count"),
    ("ingest.bytes_per_input_byte", "ratio"), ("ingest.table_open_s", "s"),
) + tuple(
    (f"{op}.{m}", unit)
    for op in CORPUS_OPS
    for m, unit in (("build_s", "s"), ("plan_s", "s"), ("execute_s", "s"), ("jobs", "count"),
                    ("shuffle_bytes", "bytes"), ("python_bytes", "bytes"),
                    ("spill_bytes", "bytes"))
) + (
    ("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"),
    ("dedup.verify_yield", "fraction"),
    ("loadgen.late_p95_s", "s"), ("calib.cpu_s", "s"),
    ("trace.overhead_frac", "fraction"), ("trace.unattributed_s", "s"),
)


def layer_metrics(spans: list[dict], ops: list[Op]) -> dict[str, float]:
    """Per-operation means of span self times and counters over the traced
    window.  Visibility probes are left out: they stop at analysis and would
    dilute every per-request mean."""
    probes = {s["request"] for s in spans if s["parent"] is None and s["label"] == PROBE_SQL}
    spans = [s for s in spans if s["request"] not in probes]
    ops = [o for o in ops if o.kind != "probe"]
    out: dict[str, float] = {}
    roots = [s for s in spans if s["parent"] is None]
    n = max(len(roots), 1)

    def total(name: str, field: str = "self_s", parent: str | None = None) -> float:
        return sum(
            (s["self_s"] if field == "self_s" else s["attrs"].get(field, 0.0))
            for s in spans
            if s["name"] == name and (parent is None or s["parent"] == parent)
        )

    client_rtt = sum(o.latency for o in ops)
    root_s = sum(s["end"] - s["start"] for s in roots)
    broker_ops = [o for o in ops if o.kind == "query"]
    envelopes = [s for s in roots if s["name"] == "engine.envelope"]
    if broker_ops and envelopes:
        out["broker_http.self_s"] = (
            sum(o.latency for o in broker_ops) - sum(s["end"] - s["start"] for s in envelopes)
        ) / len(broker_ops)
        out["broker_http.response_bytes"] = sum(o.nbytes for o in broker_ops) / len(broker_ops)
        out["engine.envelope_s"] = total("engine.envelope") / len(envelopes)
        out["engine.query_s"] = total("engine.query") / len(envelopes)
        out["engine.query_jobs"] = total("engine.query", "jobs") / len(envelopes)
        out["aggsql.rewrite_s"] = total("aggsql") / len(envelopes)
        out["aggsql.route_hits"] = total("aggsql", "route_hits") / len(envelopes)
        out["catalyst.plan_s"] = total("catalyst.plan") / len(envelopes)
    out["exec.collect_s"] = total("exec.collect") / n
    for k in ("jobs", "stages", "tasks"):
        out[f"exec.{k}"] = sum(s["attrs"].get(k, 0.0) for s in roots) / n
    for k in ("scan_rows", "scan_bytes", "files_read", "shuffle_bytes", "broadcast_bytes",
              "spill_bytes", "python_bytes"):
        out[f"exec.{k}"] = total("exec.collect", k) / n
    result_rows = sum(
        s["attrs"].get("result_rows", 0.0) for s in spans
        if s["name"] == "exec.collect"
        and (s["parent"] == "engine.envelope" or str(s["parent"]).endswith(".execute"))
    )
    out["exec.result_rows"] = result_rows / n
    out["exec.rows_per_result"] = (out["exec.scan_rows"] * n) / max(result_rows, 1.0)
    for op in CORPUS_OPS:
        mine = [s for s in roots if s["attrs"].get("op") == op]
        if not mine:
            continue
        k = len(mine)
        out[f"{op}.build_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == f"{op}.build") / k
        out[f"{op}.plan_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == f"{op}.plan") / k
        out[f"{op}.execute_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == f"{op}.execute") / k
        for m in ("jobs", "shuffle_bytes", "python_bytes", "spill_bytes"):
            out[f"{op}.{m}"] = sum(s["attrs"].get(m, 0.0) for s in mine) / k
    out["trace.unattributed_s"] = (client_rtt - root_s) / max(len(ops), 1)
    return out


def ingest_metrics(run: Run, base: dict, traced_win: dict | None, totals: dict,
                   state: dict) -> tuple[list[float], int, dict[str, float]]:
    """Freshness, visibility probes, exactly-once check and the ingest
    layer's counters; returns the generator lateness samples, the number of
    errorCode-700 probes and the ingest layer metrics."""
    probes = base["probes"] + (traced_win["probes"] if traced_win else [])
    files = base["files"] + (traced_win["files"] if traced_win else [])
    late = base["late"] + (traced_win["late"] if traced_win else [])
    fresh = freshness(files, probes)
    run.metric("freshness_p50_s", percentile(fresh, 50), "s", n=len(fresh),
               deadline_s=FRESHNESS_DEADLINE_S)
    run.metric("freshness_p95_s", percentile(fresh, 95), "s", n=len(fresh),
               valid=len(fresh) * 0.05 >= 10)
    misses = sum(1 for f in fresh if f >= FRESHNESS_DEADLINE_S)
    run.metric("freshness_miss_frac", misses / max(len(fresh), 1), "fraction")
    vis_errors = sum(1 for o in probes if o.value["error"] == VISIBILITY_ERROR)
    other_errors = sum(1 for o in probes if not o.ok) - vis_errors
    run.attempt(len(probes))
    for _ in range(other_errors):
        run.fail("probe: transport or non-visibility error")
    base_rows = sum(p["numInputRows"] for p in ingest_progress(run, *base["wall"]))
    run.metric("ingest_rows_per_s", base_rows / base["window"], "1/s",
               offered=OFFERED_EVENTS_PER_S)
    run.attempt()
    if (state["rows"], state["price_sum"]) != (totals["rows"], totals["price_sum"]):
        run.fail(f"exactly-once: engine rows={state['rows']} sum={state['price_sum']} "
                 f"generator rows={totals['rows']} sum={totals['price_sum']}")
    run.report["probes"] = {"n": len(probes), "visibility_errors": vis_errors,
                            "other_errors": other_errors}
    win = traced_win or base
    win_prog = ingest_progress(run, *win["wall"])
    win_s = win["window"]
    committed = sum(p["numInputRows"] for p in ingest_progress(run, 0.0, win["wall"][1])
                    if p["_end"] <= win["wall"][1])
    trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in win_prog]
    dur = lambda p, *ks: sum(p["durationMs"].get(k, 0) for k in ks) / 1000  # noqa: E731
    ingest_layer = {
        "ingest.batches": float(len(win_prog)),
        "ingest.trigger_s": mean(trig),
        "ingest.add_batch_s": mean([dur(p, "addBatch") for p in win_prog]),
        "ingest.offset_s": mean([dur(p, "latestOffset", "getBatch") for p in win_prog]),
        "ingest.log_s": mean([dur(p, "walCommit", "commitOffsets") for p in win_prog]),
        "ingest.busy_frac": sum(trig) / win_s,
        "ingest.backlog_rows": float(win["written"] - committed),
        "ingest.commit_lag_p50_s": state["commit_lag_p50_s"],
        "ingest.commit_lag_p95_s": state["commit_lag_p95_s"],
        "ingest.files": float(state["files"]),
        "ingest.bytes_per_input_byte": state["bytes"] / max(totals["bytes"], 1),
        "ingest.table_open_s": state["table_open_s"],
    }
    run.report["ingest"] = ingest_layer
    return late, vis_errors, ingest_layer


# -- main ---------------------------------------------------------------------------------


def execute(run: Run) -> dict:
    args, root, run_dir = run.args, run.root, run.run_dir
    t = time.perf_counter()
    gen.write_tables(args.seed, run.data_dir)
    run.report["inputs"] = {"gen_s": time.perf_counter() - t, "seed": args.seed}
    w = args.workload
    totals = {"rows": 0, "price_sum": 0, "bytes": 0, "files": 0}
    stmts = gen.dashboard_statements(args.seed) if w == "ingest_mixed" else {}
    names = tuple(stmts)
    t = time.perf_counter()
    oracles = corpus_oracles(run) if w == "corpus_batch" else run.duck_answers(stmts)
    run.report["inputs"]["oracle_s"] = time.perf_counter() - t

    run.engine = EngineProcess(root, run_dir, run.data_dir, w != "corpus_batch", run.traced)
    eng = run.engine
    run.setup["setup.session_s"] = eng.ready["session_s"]
    run.setup["setup.register_s"] = eng.ready["register_s"]
    run.setup["setup.add_table_s"] = 0.0
    stream_dir = run_dir / "stream"
    staging = run_dir / "staging"
    if w == "ingest_mixed":
        stream_dir.mkdir()
        staging.mkdir()
        provision_kinesis_table(run, stream_dir)
    t_warm = time.perf_counter()
    run.checked = {}
    if w == "corpus_batch":
        for n in CORPUS_OPS:
            run_op(run, n, oracles[n])
            eng.sample_rss()
    else:
        for n, s in stmts.items():
            op = run.checked_request(n, s, oracles[n])
            run.checked[n] = op.value if op.ok else oracles[n]
            eng.sample_rss()
        if w == "ingest_mixed":
            probe(run, time.perf_counter())
    run.setup["setup.warm_s"] = time.perf_counter() - t_warm
    setup_s = time.perf_counter() - eng.t_launch

    run.report["setup"] = dict(run.setup)
    for _ in range(2):  # untimed: the first calls pay the job's code generation
        eng.bench("/calibrate")
    calib = [run.calibrate()]
    events = gen.KdgEvents(args.seed)

    def window(pass_no: int) -> dict:
        if w == "ingest_mixed":
            return run_ingest(run, stmts, names, stream_dir, staging, events, totals)
        return run_corpus(run, oracles, pass_no)

    jvm0 = eng.bench("/jvm")
    base = window(0)
    jvm1 = eng.bench("/jvm")
    run.report["jvm"] = {k: {"value": jvm1[k] - jvm0[k], "unit": "s"} for k in jvm0}
    traced_win = None
    spans: list[dict] = []
    if run.traced:
        eng.bench("/trace", {"on": True})
        traced_win = window(1)
        dump = run_dir / "spans.json"
        eng.bench("/trace", {"on": False, "dump": str(dump)})
        spans = json.loads(dump.read_text())
        keep = root / ".perfbench"
        shutil.copy(dump, keep / f"spans-{w}.json")
    ingest_state = None
    if w == "ingest_mixed":
        # drain before the closing calibration, so it runs on an idle engine
        ingest_state = eng.bench("/ingest", {"table": "kinesisTable", "drain": True})
    calib.append(run.calibrate())

    ops = base["ops"]
    lat_ops = [o for o in ops if o.ok]
    by_name: dict[str, list[float]] = {}
    for o in lat_ops:
        by_name.setdefault(o.name, []).append(o.latency)
    run.report["per_statement_p50_s"] = {n: statistics.median(v) for n, v in sorted(by_name.items())}
    run.report["per_statement_s"] = {n: [round(x, 4) for x in v] for n, v in sorted(by_name.items())}
    run.metric("setup_s", setup_s, "s")
    # engine CPU (driver JVM, Python workers) per operation offered in the
    # window.  On ingest_mixed that includes the stream and the probes, which
    # run at fixed rates beside the reads, and it is the median over the
    # window's rounds of the mix, so a burst of load on the host that falls
    # into one round does not move it.  The JIT compiler's threads are left
    # out: their CPU still falls from round to round a minute into a run,
    # while the rest stays flat.
    if w == "ingest_mixed":
        cpu_per_op = statistics.median(base["round_cpu_s"]) / len(names)
    else:
        cpu_per_op = base["cpu"]["work"] / max(len(ops), 1)
    run.metric("cpu_s_per_op", cpu_per_op, "s", n=len(ops),
               window_cpu_s=base["cpu"]["work"], window_jit_cpu_s=base["cpu"]["jit"],
               round_cpu_s=base.get("round_cpu_s"))
    latency_metrics(run, ops)
    if w == "corpus_batch":
        run.metric("qps", len(lat_ops) / base["window"], "1/s")
        run.metric("batch_s", statistics.median(base["passes"]), "s", n=len(base["passes"]))
    else:
        run.metric("qps", completed_per_s(ops, base["t0"]), "1/s")
    late: list[float] = []
    vis_errors = 0
    ingest_layer: dict[str, float] = {}
    if w == "ingest_mixed":
        late, vis_errors, ingest_layer = ingest_metrics(run, base, traced_win, totals, ingest_state)
    # the report's error share counts the errorCode-700 probes too; the
    # result line's "failed" leaves them out (see the module docstring)
    run.metric("error_frac", (len(run.failures) + vis_errors) / max(run.attempted, 1),
               "fraction")
    run.metric("peak_rss_mb", eng.peak_rss_mb, "MB")

    calib_s = mean(calib)
    drift = abs(calib[1] - calib[0]) / calib[0] if calib[0] > 0 else 0.0
    late_p95 = percentile(late, 95)
    read_late_p95 = percentile(base.get("read_late", []), 95)
    flags = []
    if drift > CALIB_DRIFT_BOUND:
        flags.append(f"calibration moved {drift:.0%} within the run")
    if late_p95 > LATE_BOUND_S:
        flags.append(f"load generator ran late: p95 {late_p95:.3f} s")
    if read_late_p95 > 1.0 / READS_PER_S:
        flags.append(f"engine fell behind the offered reads: p95 {read_late_p95:.3f} s late")
    run.report["checks"] = {
        "calib.cpu_s": {"value": calib_s, "unit": "s", "before": calib[0], "after": calib[1]},
        "loadgen.late_p95_s": {"value": late_p95, "unit": "s"},
        "reader.late_p95_s": {"value": read_late_p95, "unit": "s"},
        "flags": flags,
    }
    for f in flags:
        print(f"perfbench: warning: {f}", file=sys.stderr)

    layers: dict[str, float] = {}
    if run.traced:
        layers = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
        layers.update(run.setup)
        layers.update(layer_metrics(spans, traced_win["ops"] + traced_win.get("settle_ops", [])))
        layers.update(ingest_layer)
        if w == "corpus_batch":
            counts = eng.bench("/dedup_counts")
            layers["dedup.candidate_pairs"] = float(counts["candidate_pairs"])
            layers["dedup.verified_pairs"] = float(counts["verified_pairs"])
            layers["dedup.verify_yield"] = counts["verified_pairs"] / max(counts["candidate_pairs"], 1)
        layers["loadgen.late_p95_s"] = late_p95
        layers["calib.cpu_s"] = calib_s
        base_lat = mean([o.latency for o in base["ops"] if o.ok])
        traced_lat = mean([o.latency for o in traced_win["ops"] if o.ok])
        layers["trace.overhead_frac"] = traced_lat / base_lat - 1.0 if base_lat > 0 else 0.0
        run.report["trace"] = {"spans": len(spans), "unattributed_s": layers["trace.unattributed_s"]}
    run.report["failures"] = run.failures[:20]
    return layers


END_TO_END = (("setup_s", "s"), ("cpu_s_per_op", "s"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the engine: SystemExit unwinds the finally
    # blocks below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    root = Path.cwd()
    if not (root / PACKAGE / "engine.py").is_file():
        print(f"perfbench: {root} holds no {PACKAGE} package; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    keep = root / ".perfbench"
    keep.mkdir(exist_ok=True)
    run_dir = keep / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    run_dir.mkdir()
    run = Run(args, root, run_dir)
    try:
        layers = execute(run)
    finally:
        try:
            if run.engine is not None:
                run.engine.stop()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"report": {"workload": args.workload, **run.report}}))
    if args.trace:
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": run.report[n]["value"], "unit": u} for n, u in END_TO_END}
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
