"""The benchmark workloads and the metrics they report.

Each run is one process holding the Spark driver, an in-process
``TelemetryHttpServer`` and the client threads. It drives the engine only
through its public surface: HTTP routes, ``TimeseriesEngine`` methods and the
declared analytic plans. Clients are closed loops: each sends its next
request only after the previous one completed.
"""

from __future__ import annotations

import concurrent.futures
import dataclasses
import json
import os
import statistics
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from collections import defaultdict

import numpy as np

from gen import (
    FAULT_THRESHOLD, ROW_SIZE, STEP_S, WINDOW_S, TelemetryModel, latest_tuple,
    WRITER_CYCLE, row_tuple, ts_str, write_analytic_tables,
)
from spans import SparkCounters, Tracer

#: The declared analytic queries the ``analytics`` workload cycles through.
ANALYTIC_QUERIES = (
    "q_agg_pricing_summary", "q_tpch_q3_shipping_priority", "q_tpch_q18_large_volume",
    "q_asof_join", "q_asof_sql", "q_window_rolling_time", "q_tumbling_window",
    "q_session_window", "q_ohlc_bars", "q_minmax_decimate", "q_ewma", "q_state_durations",
)
#: The op kind whose costs make ``read_cpu_ms`` on each workload.
READ_KIND = {"ingest_mixed": "qbid", "analytics": "query"}
#: Op kinds, as used in per-op Spark counter names.
OP_KINDS = ("qbid", "latest", "ingest", "post", "update", "fdd", "compact", "query")
#: ``ingest_mixed`` reads after each writer op; every 7th read is a GET
#: /latest, the others GET /query_by_id.
READS_PER_WRITE = 6
#: Seconds an ``ingest_mixed`` round (a writer op and its reads) or an
#: ``analytics`` pass took on the host the benchmark was defined on.
#: ``--seconds`` sets how many of them a run measures, so that every run of
#: one length does the same ops in the same states, on a slow host or a
#: fast one, and for a slow commit or a fast one.
ROUND_S = 10
#: Iterations of the host probe's pure-Python loop, and the probe's CPU
#: time in ms on an idle host of the kind the benchmark was defined on:
#: ``read_cpu_ms`` on ``analytics`` is scaled to that speed.
PROBE_N, PROBE_REF_MS = 100_000, 10.0
HTTP_TIMEOUT_S = 60
#: Spark's local master and driver heap, fixed so that results do not
#: depend on the host's core count or memory.
SPARK_MASTER, DRIVER_MEMORY = "local[4]", "2g"


@dataclasses.dataclass
class Config:
    """Sizes of one run. The defaults are the measured configuration; the
    self-test shrinks them."""

    series: int | None = None  # None: 190-210 series, chosen by the seed
    points: int = 500
    sf: float = 0.005


class ReadWriteGate:
    """Readers share it, ``compact()`` holds it alone.

    ``compact()`` deletes the superseded base and overlay directories the
    moment it swaps the version pointer, so a read that listed those files
    first fails mid-scan. The workload therefore runs compaction as a
    maintenance step that waits for in-flight reads and holds new ones; the
    wait counts in those reads' latency.
    """

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self.held = threading.Event()

    def acquire_read(self) -> None:
        with self._cond:
            while self._writer:
                self._cond.wait()
            self._readers += 1

    def release_read(self) -> None:
        with self._cond:
            self._readers -= 1
            self._cond.notify_all()

    def acquire_write(self) -> None:
        with self._cond:
            self._writer = True
            self.held.set()
            while self._readers:
                self._cond.wait()

    def release_write(self) -> None:
        with self._cond:
            self._writer = False
            self.held.clear()
            self._cond.notify_all()


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(roots: list[int]) -> float:
    """User + system CPU seconds used so far by the processes ``roots`` and
    their descendants (with their reaped children), from /proc. Time the
    host takes from this machine's CPUs (steal) is not counted in it."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stats[int(name)] = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited meanwhile
                pass
    tree, frontier = set(), [p for p in roots if p in stats]
    while frontier:
        tree.update(frontier)
        frontier = [p for p, st in stats.items() if int(st[1]) in frontier and p not in tree]
    return sum(sum(int(x) for x in stats[p][11:15]) for p in tree) / _TICK


def steal_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of this machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def geomean(values) -> float:
    return float(np.exp(np.mean(np.log(values)))) if len(values) else 0.0


def pct(values, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


def median(values) -> float:
    return float(statistics.median(values)) if len(values) else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(Parquet data files, bytes of all files) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for root, _, names in os.walk(path):
        n += sum(pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                 for f in names if f.endswith(".parquet"))
    return n


class Bench:
    """One benchmark run: its Spark session, engine, clients and tallies."""

    def __init__(self, cfg: Config, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.cfg, self.workload, self.seed = cfg, workload, seed
        self.seconds, self.trace, self.work = seconds, trace, work
        self.tracer = Tracer(False)
        self.spark = None
        self.jvm_pid = 0
        self.jit_stats: list[str] = []  # /proc stat files of the JVM's JIT compiler threads
        self.engine = None
        self.server = None
        self.counters: SparkCounters | None = None
        self.lock = threading.Lock()
        self.lat: dict[str, list[float]] = defaultdict(list)  # op kind -> seconds
        self.cpu: dict[str, list[float]] = defaultdict(list)  # op kind -> CPU seconds
        self.attempted: dict[str, int] = defaultdict(int)
        self.failed: dict[str, int] = defaultdict(int)
        self.errors: list[str] = []
        self.non_2xx = 0
        self.ops_per_s = 0.0
        self.setup_s = 0.0
        self.phases: dict[str, float] = {}  # wall time of the steps of a run
        self.jvm_start_s = 0.0
        self.records: list[dict] = []  # traced ops
        self.per_query: dict[str, list[float]] = defaultdict(list)  # analytics: seconds
        self.per_query_cpu: dict[str, list[float]] = defaultdict(list)  # analytics: CPU seconds
        self.round_ends: list[int] = []  # ingest_mixed: reads done by the end of each round
        self.layer: dict[str, float] = {}
        self.probes: list[float] = []  # host probe CPU times, ms
        self.steal_pct = 0.0  # share of the machine's CPU time the host took in the window

    # --------------------------------------------------------- spark

    def spark_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        return {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            # compiler threads that live as long as the JVM, so that
            # cpu_now() can leave their time out
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        }

    def start_spark(self) -> None:
        """Launch the JVM and start the session."""
        from rusty_timeseries_db_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=SPARK_MASTER, extra_conf=self.spark_conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_start_s = time.perf_counter() - t
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        tasks = f"/proc/{self.jvm_pid}/task"
        self.jit_stats = []
        for tid in os.listdir(tasks):
            with open(f"{tasks}/{tid}/comm") as f:
                if "CompilerThre" in f.read():
                    self.jit_stats.append(f"{tasks}/{tid}/stat")

    def close(self) -> None:
        """Stop the server and Spark, and wait for the JVM to exit."""
        if self.server is not None:
            self.server.stop()
            self.server = None
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)

    def probe(self) -> None:
        """Time a fixed piece of pure-Python work in CPU time. No change to
        the program can move it; the load other machines put on the host
        does (cores they share with this machine run it slower), and moves
        the CPU time of every op with it. Run before each op of a window."""
        t = time.thread_time_ns()
        sum(i * i for i in range(PROBE_N))
        self.probes.append((time.thread_time_ns() - t) / 1e6)

    def probe_ms(self) -> float:
        """The window's mean probe. The probe flips between a fast and a
        slow speed from one op to the next; a mean follows the share of
        time spent in each, where a median jumps between them."""
        return float(np.mean(self.probes)) if self.probes else 0.0

    def cpu_now(self) -> float:
        """CPU seconds used so far by this process (the clients and the
        HTTP server), its JVM and the JVM's Python workers, less the JVM's
        JIT compiler threads: compiling is a warm-up cost that fades as a
        process ages, and how far it has got depends on how fast the host
        ran the run so far."""
        jit = 0
        for path in self.jit_stats:
            with open(path) as f:
                jit += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
        return cpu_s([os.getpid(), self.jvm_pid]) - jit / _TICK

    def peak_rss_mb(self) -> float:
        """Peak resident set of this process plus its JVM, from /proc."""
        from pyspark import SparkContext

        pids = ["self"]
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            pids.append(str(proc.pid))
        kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        return kb / 1024

    # ------------------------------------------------------- tallies

    def record(self, kind: str, seconds: float | None, ok: bool, why: str = "",
               cpu: float | None = None) -> None:
        with self.lock:
            self.attempted[kind] += 1
            if ok and seconds is not None:
                self.lat[kind].append(seconds)
            if ok and cpu is not None:
                self.cpu[kind].append(cpu)
            if not ok:
                self.failed[kind] += 1
                if len(self.errors) < 20:
                    self.errors.append(f"{kind}: {why}"[:500])

    def http(self, method: str, path: str, body: dict | None = None) -> tuple[int, bytes]:
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(self.server.base_url + path, data=data, method=method)
        try:
            with urllib.request.urlopen(req, timeout=HTTP_TIMEOUT_S) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            with self.lock:
                self.non_2xx += 1
            return e.code, e.read()

    @staticmethod
    def query_path(full_id: str, start: str, end: str) -> str:
        return "/query_by_id?" + urllib.parse.urlencode(
            {"timeseries_id": full_id, "start_time": start, "end_time": end})

    # ------------------------------------------------ traced op scope

    def traced_op(self, kind: str, name: str, fn, after=None, **attrs):
        """Run ``fn`` as one op; in a traced run, inside a root span with
        its Spark job/stage/task delta, and ``after(result)`` adding fields
        to the op's record. Returns ``fn``'s result."""
        if not self.tracer.enabled:
            return fn()
        self.counters.mark()
        with self.tracer.span(name, root=True) as sp:
            out = fn()
        rec = {"kind": kind, "span": sp, "spark": self.counters.delta(), **attrs}
        if after is not None:
            rec.update(after(out))
        with self.lock:
            self.records.append(rec)
        return out

    # ----------------------------------------------------- warehouse

    def build_warehouse(self, model: TelemetryModel) -> None:
        """Write the seeded inputs, then set up: start Spark and build the
        warehouse through ``ingest_df`` (timed as ``setup_s``)."""
        from rusty_timeseries_db_spark.api import TimeseriesEngine
        from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
        from rusty_timeseries_db_spark.server import TelemetryHttpServer

        inputs = os.path.join(self.work, "inputs")
        model.write_base(inputs)
        t = time.perf_counter()
        self.start_spark()
        self.engine = TimeseriesEngine(self.spark, os.path.join(self.work, "warehouse"))
        raw = self.spark.read.schema(TELEMETRY_INGEST_SCHEMA).parquet(inputs)
        n = self.engine.ingest_df(raw, dense_seq=False)
        self.setup_s = time.perf_counter() - t
        if n != model.live_rows:
            self.record("setup", None, False, f"ingest_df wrote {n} rows, expected {model.live_rows}")
        self.server = TelemetryHttpServer(self.engine, port=0).start()

    def storage_stats(self, model: TelemetryModel) -> None:
        files, size = dir_stats(self.engine.warehouse_dir)
        self.layer["storage.data_files"] = files
        self.layer["storage.bytes"] = size
        self.layer["storage.bytes_per_row"] = size / model.live_rows
        self.layer["e2e.space_amp"] = size / (model.live_rows * ROW_SIZE)

    def enable_tracing(self) -> None:
        self.tracer = Tracer(True)
        if self.engine is not None:
            self.tracer.instrument(self.engine)
        self.counters = SparkCounters(self.spark)

    # ---------------------------------------------------- read ops

    def read_by_id(self, model: TelemetryModel, kind: str, sid: int, start: str, end: str,
                   gate: ReadWriteGate | None = None) -> float | None:
        """GET /query_by_id, checked against every state the model may have
        been in while the request was open. Returns the latency, or None."""
        t0, c0 = time.perf_counter(), self.cpu_now()
        if gate is not None:
            gate.acquire_read()
        try:
            v0 = model.acked
            status, body = self.traced_op(
                kind, "http.GET /query_by_id",
                lambda: self.http("GET", self.query_path(model.full_ids[sid], start, end)),
                after=lambda out: {"bytes": len(out[1])},
                overlay_rows=self.overlay_rows_now() if self.tracer.enabled else 0,
            )
            lat, cpu = time.perf_counter() - t0, self.cpu_now() - c0
            v1 = model.acked
        except Exception as e:  # timeout, refused connection
            self.record(kind, None, False, repr(e))
            return None
        finally:
            if gate is not None:
                gate.release_read()
        if status != 200:
            self.record(kind, None, False, f"HTTP {status}: {body[:200]!r}")
            return None
        got = [row_tuple(d) for d in json.loads(body)]
        ok = any(got == model.expected_window(sid, start, end, v)
                 for v in model.versions_touching(sid, v0, v1))
        self.record(kind, lat, ok, f"wrong rows for {model.ids[sid]} [{start}, {end}]", cpu)
        return lat if ok else None

    def read_latest(self, model: TelemetryModel, sid: int, gate: ReadWriteGate | None = None) -> None:
        """GET /latest?timeseries_id=, checked like ``read_by_id``."""
        t0, c0 = time.perf_counter(), self.cpu_now()
        if gate is not None:
            gate.acquire_read()
        try:
            v0 = model.acked
            path = "/latest?" + urllib.parse.urlencode({"timeseries_id": model.full_ids[sid]})
            status, body = self.traced_op("latest", "http.GET /latest", lambda: self.http("GET", path),
                                          after=lambda out: {"bytes": len(out[1])})
            lat, cpu = time.perf_counter() - t0, self.cpu_now() - c0
            v1 = model.acked
        except Exception as e:
            self.record("latest", None, False, repr(e))
            return
        finally:
            if gate is not None:
                gate.release_read()
        if status != 200:
            self.record("latest", None, False, f"HTTP {status}: {body[:200]!r}")
            return
        got = [latest_tuple(d) for d in json.loads(body)]
        ok = any(got == [model.expected_latest(sid, v)] for v in model.versions_touching(sid, v0, v1))
        self.record("latest", lat, ok, f"wrong latest row for {model.ids[sid]}", cpu)

    def overlay_rows_now(self) -> int:
        return parquet_rows(self.engine.overlay_path)

    # ------------------------------------------------------ clients

    def rounds(self) -> int:
        """Rounds (``ingest_mixed``) or passes (``analytics``) the window
        runs: one per ``ROUND_S`` of ``--seconds``, two at least."""
        return max(2, round(self.seconds / ROUND_S))

    def run_client(self, loop) -> None:
        """Run the client ``loop()``, which returns the ops it completed,
        and note the window's op rate and the share of this machine's CPU
        time the host took meanwhile."""
        s0, all0 = steal_ticks()
        t0 = time.perf_counter()
        ops = loop()
        wall = time.perf_counter() - t0
        s1, all1 = steal_ticks()
        self.ops_per_s = ops / wall
        self.steal_pct = 100.0 * (s1 - s0) / max(1, all1 - all0)
        self.phases["clients_s"] = wall

    # ------------------------------------------------------ metrics

    def read_ms(self, cpu: bool = False) -> float:
        """Read latency (CPU time with ``cpu``): the geometric mean of the
        median read of each ``ingest_mixed`` round, or of each ``analytics``
        query. Reads after a correction cost more than reads after a batch,
        and queries differ more still: a median of all reads would sit on
        the edge between two groups and jump between them."""
        if self.workload == "analytics":
            groups = list((self.per_query_cpu if cpu else self.per_query).values())
        else:
            reads = (self.cpu if cpu else self.lat)[READ_KIND[self.workload]]
            groups = [reads[i:j] for i, j in zip([0] + self.round_ends, self.round_ends)]
        return geomean([median(g) for g in groups if g]) * 1e3

    def end_to_end(self) -> dict[str, float]:
        """On ``analytics``, ``read_cpu_ms`` is scaled by the host probe to
        the speed of an idle host: there the probe follows the CPU time of
        the queries, and scaling steadies it. On ``ingest_mixed`` it does
        not follow the reads, and scaling would only add the probe's own
        swings."""
        cpu = self.read_ms(cpu=True)
        if self.workload == "analytics":
            cpu *= PROBE_REF_MS / self.probe_ms()
        return {"setup_s": self.setup_s, "read_cpu_ms": cpu}


# =============================================================== ingest_mixed

class Writer:
    """The ingest_mixed writer: ops in ``WRITER_CYCLE`` order, each checked."""

    def __init__(self, b: Bench, model: TelemetryModel, gate: ReadWriteGate):
        self.b, self.model, self.gate = b, model, gate
        self.rng = np.random.default_rng([b.seed, 4])
        # a gateway sweep reads every series, 200 at most
        self.sweep_rows = min(200, model.n_series)
        self.recent: list[int] = []  # series with acknowledged appends, newest last
        self.rows_acked = 0

    def run_op(self, op: str) -> None:
        getattr(self, op)()

    def _write(self, kind: str, effects, call, expect, rows_added=0, after=None):
        """Register ``effects`` with the model, run ``call`` and check that it
        returns ``expect``; the model counts the write once acknowledged."""
        idx = self.model.begin(effects)
        t0, c0 = time.perf_counter(), self.b.cpu_now()
        try:
            got = self.b.traced_op(kind, f"op.{kind}", call, after)
        except Exception as e:
            self.model.abort(idx)
            self.b.record(kind, None, False, repr(e))
            return False
        lat, cpu = time.perf_counter() - t0, self.b.cpu_now() - c0
        if got != expect:
            self.model.abort(idx)
            self.b.record(kind, None, False, f"returned {got!r}, expected {expect!r}")
            return False
        self.model.ack(idx, rows_added)
        self.b.record(kind, lat, True, cpu=cpu)
        return True

    def ingest(self) -> None:
        m = self.model
        sweep = self.rng.choice(m.n_series, self.sweep_rows, replace=False)
        rows = [m.next_point(int(s), self.rng) for s in sweep]
        effects = [(int(s), "append", (r["sensor_name"], r["timestamp"], r["value"], None, m.ids[s]))
                   for s, r in zip(sweep, rows)]
        wh = self.b.engine.warehouse_dir
        files0 = dir_stats(wh)[0] if self.b.tracer.enabled else 0
        after = lambda _: {"files_written": dir_stats(wh)[0] - files0}  # noqa: E731
        if self._write("ingest", effects, lambda: self.b.engine.ingest_rows(rows), len(rows), len(rows),
                       after=after):
            self.recent = (self.recent + [int(s) for s in sweep])[-400:]
            self.rows_acked += len(rows)

    def post(self) -> None:
        m = self.model
        sid = m.pick_series(self.rng)
        row = m.next_point(sid, self.rng)
        effect = [(sid, "append", (row["sensor_name"], row["timestamp"], row["value"], None, m.ids[sid]))]
        call = lambda: self.b.http("POST", "/telemetry", row)  # noqa: E731
        if self._write("post", effect, call, (200, b"Inserted"), 1):
            self.recent = (self.recent + [sid])[-400:]
            self.rows_acked += 1

    def update(self) -> None:
        m = self.model
        sid = m.pick_series(self.rng)
        ts = str(self.rng.choice(m.last_day_ts(sid)))
        value = float(np.round(self.rng.random(), 4))
        row = {"sensor_name": m.sensor[sid], "timestamp": ts, "value": value,
               "fc1_flag": None, "timeseries_id": m.full_ids[sid]}
        self._write("update", [(sid, "set", (ts, value))],
                    lambda: self.b.engine.update_rows([row]), 1)

    def fdd(self) -> None:
        m = self.model
        sid = m.hot[int(self.rng.integers(len(m.hot)))]
        last = m.last_day_ts(sid)
        start, end = last[0], last[-1]
        hits = tuple(r[1] for r in m.rows(sid, m.acked)
                     if start <= r[1] <= end and r[2] > FAULT_THRESHOLD)
        self._write("fdd", [(sid, "flag", hits)],
                    lambda: self.b.engine.run_fault_detection(m.full_ids[sid], start, end),
                    len(hits))

    def compact(self) -> None:
        """Fold the overlay into a new base while reads wait at the gate, and
        read the hottest series before and after it (still holding the gate):
        the answers must be identical and as the model says."""
        m, b = self.model, self.b
        sid = m.hot[0]
        last = m.last_day_ts(sid)
        before = [tuple(r) for r in b.engine.query_by_id(m.full_ids[sid], last[0], last[-1]).collect()]
        self.gate.acquire_write()
        try:
            t0, c0 = time.perf_counter(), b.cpu_now()
            try:
                n = b.traced_op("compact", "op.compact", b.engine.compact,
                                after=lambda _: {"bytes_rewritten": dir_stats(b.engine.telemetry_path)[1]})
                ok, why = n == m.live_rows, f"compact() kept {n} rows, expected {m.live_rows}"
            except Exception as e:
                ok, why = False, repr(e)
            lat, cpu = time.perf_counter() - t0, b.cpu_now() - c0
            after = [tuple(r) for r in b.engine.query_by_id(m.full_ids[sid], last[0], last[-1]).collect()]
        finally:
            self.gate.release_write()
        b.record("compact", lat, ok, why, cpu)
        want = m.expected_window(sid, last[0], last[-1], m.acked)
        served = [(r[0], r[2], r[3], r[4], r[5]) for r in after]  # drop ts, ingest_seq
        b.record("compact_check", None, before == after and served == want,
                 f"{m.ids[sid]} changed across compact()")


def ingest_mixed(b: Bench) -> None:
    """A seeded warehouse of about 100 k rows built with ``ingest_df``,
    then one client running the writer's op cycle, each op followed by
    reads of series just written; one compaction closes the run."""
    model = TelemetryModel(b.seed, b.cfg.series, b.cfg.points)
    b.build_warehouse(model)
    gate = ReadWriteGate()
    writer = Writer(b, model, gate)
    warm = np.random.default_rng([b.seed, 3])
    b.read_by_id(model, "warmup", model.pick_series(warm), *model.read_window(warm))
    b.lat.pop("warmup", None)
    if b.trace:
        b.enable_tracing()

    def read_recent(rng, kind, n, gate=None):
        """Read back a series just written: GET /query_by_id over its newest
        2 h, and every 7th read (``n`` counts them) GET /latest instead; a
        fixed share, so runs under different seeds read alike."""
        if writer.recent:
            sid = writer.recent[-1 - int(rng.integers(min(len(writer.recent), 200)))]
        else:
            sid = model.pick_series(rng)
        if n % 7 == 4:
            b.read_latest(model, sid, gate)
            return None
        end = model.frontier(sid)
        return b.read_by_id(model, kind, sid, ts_str(end - WINDOW_S - STEP_S), ts_str(end), gate)

    def loop():
        """One client, ``b.rounds()`` rounds: each a writer op in cycle
        order, then ``READS_PER_WRITE`` reads of series just written. A
        traced run makes two reads a round, the first traced and the second
        not, and four rounds at least, so every op kind and a GET /latest
        (the first read of the fourth round) are traced."""
        rng = np.random.default_rng([b.seed, 10])
        ops = 0
        for k in range(max(4, b.rounds()) if b.trace else b.rounds()):
            b.probe()
            writer.run_op(WRITER_CYCLE[k % len(WRITER_CYCLE)])
            for j in range(2 if b.trace else READS_PER_WRITE):
                b.probe()
                read_recent(rng, "qbid_untraced" if j and b.trace else "qbid", READS_PER_WRITE * k + j)
                b.tracer.enabled = False
            b.tracer.enabled = b.trace
            b.round_ends.append(len(b.cpu["qbid"]))
            ops += 1 + READS_PER_WRITE
        return ops

    t0 = time.perf_counter()
    b.run_client(loop)
    b.layer["e2e.write_rows_per_s"] = writer.rows_acked / (time.perf_counter() - t0)
    # the closing compaction, timed and checked after the window; the
    # traced run sends one read while it runs, which waits for it at the
    # gate: that read's extra latency is api.read_stall_ms
    if b.trace:
        t = threading.Thread(target=writer.compact)
        t.start()
        gate.held.wait(timeout=HTTP_TIMEOUT_S)
        lat = read_recent(np.random.default_rng([b.seed, 11]), "qbid_stalled", 0, gate)
        t.join()
        base = median(b.lat["qbid"])
        b.layer["trace.overhead_ms"] = (base - median(b.lat["qbid_untraced"])) * 1e3
        if lat is not None:
            b.layer["api.read_stall_ms"] = (lat - base) * 1e3
    else:
        writer.compact()
    b.storage_stats(model)


# ================================================================== analytics

def analytics(b: Bench) -> None:
    """Passes over the declared queries, each run to the ``noop`` sink, in an
    order the seed shuffles per pass; answers checked once against DuckDB."""
    from rusty_timeseries_db_spark import queries as Q
    from rusty_timeseries_db_spark.oracle import compare

    data = os.path.join(b.work, "analytic")
    write_analytic_tables(data, b.seed, b.cfg.sf)
    plans = Q.all_queries()
    oracles = Q.all_oracles()
    # set-up is the session start: the queries read the tables directly
    t = time.perf_counter()
    b.start_spark()
    b.setup_s = time.perf_counter() - t
    rng = np.random.default_rng([b.seed, 5])

    def check(name):
        try:
            ok, msg = compare(plans[name](b.spark, data), oracles[name], data)
        except Exception as e:
            ok, msg = False, repr(e)
        b.record("query_check", None, ok, f"{name}: {msg}")

    def warm(name):
        try:
            plans[name](b.spark, data).write.format("noop").mode("overwrite").save()
        except Exception as e:
            b.record("query_check", None, False, f"{name}: {e!r}")

    # the check, then one more pass, both untimed and three queries at a
    # time: a query's CPU time falls by a quarter over its first three runs
    # as the JVM compiles the hot code, and levels off after
    for step, fn in (("check_s", check), ("warmup_s", warm)):
        t = time.perf_counter()
        with concurrent.futures.ThreadPoolExecutor(3) as pool:
            for f in [pool.submit(fn, str(n)) for n in rng.permutation(ANALYTIC_QUERIES)]:
                f.result()
        b.phases[step] = time.perf_counter() - t
    if b.trace:
        b.enable_tracing()
    passes: list[float] = []

    def run_query(name: str) -> float:
        b.probe()
        t0, c0 = time.perf_counter(), b.cpu_now()
        try:
            def call():
                with b.tracer.span("queries.plan", query=name):
                    df = plans[name](b.spark, data)
                with b.tracer.span("spark.action", action="noop"):
                    df.write.format("noop").mode("overwrite").save()

            b.traced_op("query", f"query.{name}", call, query=name)
        except Exception as e:
            b.record("query", None, False, f"{name}: {e!r}")
            return 0.0
        lat, cpu = time.perf_counter() - t0, b.cpu_now() - c0
        b.record("query" if b.tracer.enabled or not b.trace else "query_untraced", lat, True, cpu=cpu)
        b.per_query[name].append(lat)
        b.per_query_cpu[name].append(cpu)
        return lat

    def loop():
        # ``b.rounds()`` whole passes, so every query is equally
        # represented; a traced run alternates traced and untraced passes
        ops = 0
        for k in range(b.rounds()):
            b.tracer.enabled = b.trace and k % 2 == 0
            t0 = time.perf_counter()
            for name in rng.permutation(ANALYTIC_QUERIES):
                run_query(str(name))
                ops += 1
            passes.append(time.perf_counter() - t0)
        return ops

    b.run_client(loop)
    b.layer["e2e.analytics_pass_s"] = median(passes)
    if b.trace:
        b.layer["trace.overhead_ms"] = (median(b.lat["query"]) - median(b.lat["query_untraced"])) * 1e3


WORKLOADS = {"ingest_mixed": ingest_mixed, "analytics": analytics}
