"""clueso_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload search_hot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark drives the real engine from
outside through its public entry points -- ``build_engine``,
``run_file_ingestion``, ``Compactor`` and ``SearchServer`` over loopback
HTTP -- and checks every answer against an independent DuckDB oracle.
See ``perfbench/README.md`` for the workloads and metrics.

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs the window
half untraced and half traced and prints every per-layer metric.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
import xml.etree.ElementTree as ET
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from urllib.parse import urlencode

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import BUCKETS, Batch, Corpus, Event, Search, md5_of, search_mix  # noqa: E402
from spans import dir_bytes  # noqa: E402

S3 = "{http://s3.amazonaws.com/doc/2006-03-01/}"
WORKLOADS = ("search_hot", "ingest_compact")

#: per-workload sizes. ``base`` events are streamed in and force-compacted
#: into staging at set-up; ``window_batches`` are the writer's paced
#: batches during the window.
PARAMS = {
    "search_hot": dict(
        base=50_000, base_files=4, cache=True, clients=4,
        # freshness probes: one small batch that warms the path, then 4
        # batches the size of ingest_compact's, so a probe is mostly ingest
        # work rather than thread hand-offs, which a busy host stretches
        interval=100_000, probes=(100, 5_000, 5_000, 5_000, 5_000),
    ),
    "ingest_compact": dict(
        base=100_000, base_files=4, cache=False, clients=1,
        interval=10_000, window_batches=(8, 5_000),
        period_s=2.0, compact_every=2,
        # the production purge tolerance (the reference runs 1 h): with the
        # engine default of 0, compaction deletes landing files a concurrent
        # search has already listed and that search fails with HTTP 500
        purge_tolerance_s=3600.0,
    ),
}
SETUP_REPEATS = 3
DRIVER_MEM = "2g"
#: unmeasured client traffic before the window, so the search path's
#: lazy set-up (code generation, JIT) is not timed
WARMUP_S = 1.0
#: how long a freshness probe waits for an acknowledged batch to show
PROBE_TIMEOUT_S = 30.0
#: tiny sizes for the self-test: same code paths, seconds not minutes
TINY = dict(base=2_000, base_files=2)


# -- inputs ------------------------------------------------------------------


@dataclass
class Inputs:
    base: list[Batch]
    #: small batches ingested one at a time after the window and timed from
    #: drop to visibility (the window's writer probes its own batches instead)
    probe: list[Batch]
    window: list[Batch]
    sessions: list[list[Search]]  # one seeded request list per client

    def batches(self) -> list[Batch]:
        return self.base + self.probe + self.window

    def setup_batches(self) -> int:
        """How many batches a set-up ingests (the rest come after)."""
        return len(self.base)

    def texts(self) -> list[str]:
        return [b.text for b in self.batches()] + [
            repr(s) for c in self.sessions for s in c
        ]


def make_inputs(workload: str, seed: int, tiny: bool = False) -> Inputs:
    p = dict(PARAMS[workload], **(TINY if tiny else {}))
    rng = random.Random(f"{workload}:{seed}")
    corpus = Corpus(rng)
    per_file = p["base"] // p["base_files"]
    base = [
        corpus.batch(per_file, overwrite=0.10, delete=0.03, malformed=1)
        for _ in range(p["base_files"])
    ]
    probe = [corpus.batch(n, overwrite=0.3) for n in p.get("probes", ())]
    n, size = p.get("window_batches", (0, 0))
    if tiny and n:
        size = 100
    window = [
        corpus.batch(size, overwrite=0.30, delete=0.10, malformed=1)
        for _ in range(n)
    ]
    sessions = [
        search_mix(random.Random(f"{workload}:{seed}:client{i}"), 2_000)
        for i in range(p["clients"])
    ]
    return Inputs(base, probe, window, sessions)


# -- environment ---------------------------------------------------------------


def pin_env(root: str, work: str) -> None:
    """Pin the runner's environment; the engine's own defaults are left
    alone (its 32g driver default does not fit a small box)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    tempfile.tempdir = tmp


def start_spark(work: str):
    from clueso_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        **{
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap is resident throughout, so peak RSS
            # minus the heap is the peak of the JVM's native memory
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_nonheap_peak_rss_mb(spark, pid: int) -> float:
    """Peak RSS (``VmHWM``) of the driver JVM minus its heap. The heap is
    fixed and pre-touched, so it is resident from start to exit and the
    difference is the peak of everything else: metaspace, code cache,
    thread stacks, GC structures, direct and native buffers."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = mx.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return (int(line.split()[1]) * 1024 - heap) / 2**20
    raise RuntimeError("no VmHWM in /proc status")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def parquet_count(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _r, _d, files in os.walk(path) for f in files
    )


# -- HTTP client ---------------------------------------------------------------


@dataclass
class Request:
    search: Search
    start_after: str | None
    client: int
    t0: float
    t1: float = 0.0
    status: int = 0
    rows: list = field(default_factory=list)  # (key, size, md5)
    truncated: bool = False
    next_start: str | None = None
    error: str = ""
    rid: str | None = None  # request id, on traced runs
    #: snapshot window: the window batches acknowledged before the request
    #: and those started by its end (both 0 while the store does not change)
    acked: int = 0
    started: int = 0

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000


def http_get(port: int, path: str, headers: dict) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def search_once(port, s: Search, start_after, limit, client, tracer=None) -> Request:
    q = {"search": s.spark_where(), "limit": str(limit)}
    if start_after is not None:
        q["start-after"] = start_after
    path = f"/{s.bucket}?{urlencode(q)}"
    req = Request(s, start_after, client, time.perf_counter())
    if tracer is None:
        req.status, body = http_get(port, path, {})
    else:
        rid = f"c{client}-{id(req)}"
        with tracer.span("client.http", request=rid) as sp:
            req.status, body = http_get(
                port, path, {"X-Bench-Request": rid, "X-Bench-Span": str(sp.id)}
            )
        req.rid = rid
    req.t1 = time.perf_counter()
    if req.status != 200:
        req.error = body[:300].decode(errors="replace")
    else:
        doc = ET.fromstring(body)
        req.rows = [
            (
                c.findtext(f"{S3}Key"),
                int(c.findtext(f"{S3}Size")),
                c.findtext(f"{S3}ETag").strip('"'),
            )
            for c in doc.iter(f"{S3}Contents")
        ]
        req.truncated = doc.findtext(f"{S3}IsTruncated") == "true"
        req.next_start = doc.findtext(f"{S3}NextStartAfter")
    return req


def key_probe(e: Event) -> Search:
    return Search("key", e.bucket, (e.key,), 1)


def probe_until_visible(port: int, e: Event, deadline: float) -> float | None:
    """Poll an uncached search for ``e.key`` until it returns ``e``'s
    value. Returns when it became visible, or None by the deadline."""
    s = key_probe(e)
    while time.perf_counter() < deadline:
        r = search_once(port, s, None, 1, -1)
        if r.status == 200 and r.rows and r.rows[0][2] == md5_of(e):
            return r.t1
    return None


# -- one store: engine + server ------------------------------------------------


class Stack:
    """One set-up of a store: engine, inbox, checkpoint and HTTP server."""

    def __init__(self, bench: "Bench", rep: int):
        from clueso_spark.config import CluesoSparkConfig, build_engine

        p = bench.p
        d = os.path.join(bench.work, f"rep{rep}")
        self.dir = d
        self.inbox = os.path.join(d, "inbox")
        os.makedirs(self.inbox)
        self.cfg = CluesoSparkConfig(
            store_root=os.path.join(d, "store"),
            checkpoint_path=os.path.join(d, "checkpoint"),
            cache_dataframes=p["cache"],
            landing_purge_tolerance_s=p.get("purge_tolerance_s", 0.0),
        )
        self.bench = bench
        self.engine = build_engine(bench.spark, self.cfg)
        self.store = self.engine.store
        self.server = None
        self.probe_server = None
        self.dropped = 0

    def drop(self, batch: Batch) -> float:
        """Atomically place one batch file in the inbox."""
        name = f"batch-{self.dropped:05d}.json"
        self.dropped += 1
        tmp = os.path.join(self.dir, name)
        with open(tmp, "w") as f:
            f.write(batch.text)
        os.rename(tmp, os.path.join(self.inbox, name))
        return time.perf_counter()

    def ingest(self, records: int) -> float:
        """Drain the inbox through the one long-lived checkpoint."""
        from clueso_spark.streaming import run_file_ingestion

        b = self.bench
        before = parquet_count(self.store.landing)
        t0 = time.perf_counter()
        with b.span("streaming.ingest"):
            run_file_ingestion(
                b.spark, self.inbox, self.store, self.cfg.checkpoint_path,
                compaction_record_interval=b.p["interval"],
            )
        dt = time.perf_counter() - t0
        b.ingest_log.append(
            (records, dt, parquet_count(self.store.landing) - before)
        )
        return dt

    def compact(self, force: bool) -> None:
        with self.bench.span("compact.cycle"):
            # one bucket per thread, as compact_cli --parallelism does
            self.engine.compactor.compact(force=force, parallelism=len(BUCKETS))

    def serve(self) -> None:
        from clueso_spark.operators import MetadataQueryExecutor
        from clueso_spark.server import SearchServer

        self.server = SearchServer(self.engine.executor).__enter__()
        self.port = int(self.server.url.rsplit(":", 1)[1])
        if self.engine.executor.cache is not None:
            # freshness is probed beside the cache, not through it
            ex = MetadataQueryExecutor(self.bench.spark, self.store)
            self.probe_server = SearchServer(ex).__enter__()
            self.probe_port = int(self.probe_server.url.rsplit(":", 1)[1])
        else:
            self.probe_port = self.port

    def close(self) -> None:
        for srv in (self.server, self.probe_server):
            if srv is not None:
                srv.__exit__(None, None, None)
        if self.engine.executor.cache is not None:
            self.engine.executor.cache.invalidate()
        self.engine.compactor.flush_purges(immediate=True)
        self.engine.close()


# -- the benchmark ---------------------------------------------------------------


class Bench:
    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.tiny = args.tiny
        self.trace = bool(args.trace)
        self.work = work
        self.p = dict(PARAMS[args.workload], **(TINY if args.tiny else {}))
        self.inputs = make_inputs(args.workload, args.seed, args.tiny)
        self.inputs.texts()  # render every file before anything is timed
        self.tracer = None  # set while a traced phase runs
        self.ingest_log: list[tuple[int, float, int]] = []
        self.setup_rates: list[float] = []  # records/s of each bulk ingest
        self.failed = 0
        self.attempted = 0
        self.notes: list[str] = []

    def span(self, name: str):
        import contextlib

        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    # -- phases ----------------------------------------------------------------

    def setup(self, rep: int) -> tuple[Stack, float]:
        """One set-up on a fresh store. Returns the stack and the set-up
        time."""
        t0 = time.perf_counter()
        st = Stack(self, rep)
        st.serve()
        for b in self.inputs.base:
            st.drop(b)
        n = sum(len(b.events) for b in self.inputs.base)
        self.setup_rates.append(n / st.ingest(n))
        st.compact(force=True)
        if st.engine.executor.cache is not None:
            # warm every bucket's merged view, one request per bucket at once
            with ThreadPoolExecutor(len(BUCKETS)) as pool:
                warm = list(pool.map(
                    lambda b: search_once(st.port, Search("eq", b, ("u000",), 1), None, 1, -1),
                    BUCKETS,
                ))
            if any(r.status != 200 for r in warm):
                raise RuntimeError("cache warm failed")
        return st, time.perf_counter() - t0

    def probe_freshness(self, st: Stack) -> tuple[list[float], int]:
        """Ingest each probe batch on its own and time it from dropping its
        file until an uncached search returns its last event's value.
        Returns the times and how many batches never became visible.

        One client keeps searching through the cache meanwhile, unmeasured
        and unchecked, as a serving deployment would: timed on an idle
        process, the probes' many short hand-offs between threads doubled
        whenever the host was busy, while the window's latencies rose by a
        third. The first probe is the first use of the uncached path since
        set-up and reads about 60% slower, so it warms the path and is not
        timed."""
        stop = threading.Event()

        def search() -> None:
            sessions = self.inputs.sessions[0]
            i = 0
            while not stop.is_set():
                s = sessions[i % len(sessions)]
                i += 1
                search_once(st.port, s, s.start_after, s.limit, 0)

        fresh, lost = [], 0
        background = threading.Thread(target=search)
        background.start()
        try:
            for i, b in enumerate(self.inputs.probe):
                t_drop = st.drop(b)
                st.ingest(len(b.events))
                seen = probe_until_visible(
                    st.probe_port, b.events[-1], t_drop + PROBE_TIMEOUT_S
                )
                if seen is None:
                    lost += 1
                elif i > 0:
                    fresh.append((seen - t_drop) * 1000)
        finally:
            stop.set()
            background.join()
        return fresh, lost

    def clients(self, st: Stack, seconds: float, cursor: list[int]) -> list[Request]:
        """Closed-loop clients, each walking its own seeded session list;
        ``cursor`` keeps each client's position across windows."""
        deadline = time.perf_counter() + seconds
        out: list[list[Request]] = [[] for _ in self.inputs.sessions]

        def run(i: int) -> None:
            sessions = self.inputs.sessions[i]
            while time.perf_counter() < deadline:
                s = sessions[cursor[i] % len(sessions)]
                cursor[i] += 1
                start = s.start_after
                for _ in range(s.pages):
                    r = search_once(st.port, s, start, s.limit, i, self.tracer)
                    out[i].append(r)
                    if not r.truncated or time.perf_counter() >= deadline:
                        break
                    start = r.next_start

        threads = [threading.Thread(target=run, args=(i,)) for i in range(len(out))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return [r for rs in out for r in rs]

    def run(self) -> dict:
        steal0, total0 = cpu_ticks()
        t0 = time.perf_counter()
        self.spark = start_spark(self.work)
        session_s = time.perf_counter() - t0
        marks = {}  # cumulative seconds at the end of each phase

        def mark(name: str) -> None:
            marks[name] = round(time.perf_counter() - t0, 2)

        mark("session")
        sc = self.spark.sparkContext
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        self.drops = None
        if self.trace:
            from layers import DropCounter
            from spans import Tracer, instrument

            self.drops = DropCounter(self.spark)
            self.setup_tracer = self.tracer = Tracer()
            undo = instrument(self.tracer, self.spark)
        reps = 1 if self.trace else SETUP_REPEATS
        setup_times = []
        st = None
        for rep in range(reps):
            if st is not None:
                st.close()
                shutil.rmtree(st.dir, ignore_errors=True)
            st, dt = self.setup(rep)
            setup_times.append(dt)
        mark("setups")
        if self.trace:
            undo()
            self.tracer = None

        # -- measured window ---------------------------------------------------
        self.clients(st, WARMUP_S if not self.tiny else 0.5,
                     [0] * len(self.inputs.sessions))
        if self.workload == "ingest_compact":
            writer = Writer(self, st)
            if self.trace:
                untraced = writer.window(self.seconds / 2)
                self.tracer = Tracer()
                undo = instrument(self.tracer, self.spark)
                reqs = writer.window(self.seconds / 2)
                undo()
            else:
                reqs = writer.window(self.seconds)
            writer.finish()
            measured_s = writer.measured_s
            fresh, lost, acked = writer.freshness_ms, writer.lost, writer.acked
        else:
            cursor = [0] * len(self.inputs.sessions)
            if self.trace:
                untraced = self.clients(st, self.seconds / 2, cursor)
                self.tracer = Tracer()
                undo = instrument(self.tracer, self.spark)
                reqs = self.clients(st, self.seconds / 2, cursor)
                undo()
            else:
                reqs = self.clients(st, self.seconds, cursor)
            measured_s = self.seconds / (2 if self.trace else 1)
        win_tracer, self.tracer = self.tracer, None
        mark("window")
        if self.workload != "ingest_compact":
            fresh, lost = self.probe_freshness(st)
            acked = len(self.inputs.probe)
            mark("probes")

        # -- after the window: oracle checks -----------------------------------
        from oracle import Oracle

        oracle = Oracle()
        try:
            rss = jvm_nonheap_peak_rss_mb(self.spark, jvm_pid)
            stored_rows = oracle.load_store(st.cfg.store_root)
            landing_files = parquet_count(st.store.landing)
            staging_files = parquet_count(st.store.staging)
            store_bytes = _tier_bytes(st)
            live_once = os.path.join(st.dir, "live-once")
            oracle.write_latest(live_once)
            live_bytes = dir_bytes(live_once)
            upto = self.inputs.setup_batches() + acked - 1
            all_events = [b.events for b in self.inputs.batches()]
            oracle.load_inputs(all_events)
            mismatched = oracle.store_mismatches(upto)
            live = oracle.live_keys()
            checked = reqs + (untraced if self.trace else [])
            bad_pages = self.check_pages(oracle, checked)
        finally:
            oracle.close()
        mark("checks")
        self.attempted += 1
        if mismatched:
            self.notes.append(f"{mismatched} keys differ between store and inputs")
            self.failed += 1
        if lost:
            self.notes.append(f"{lost} acknowledged writes never became visible")
        non_200 = [r for r in checked if r.status != 200]
        if non_200:
            self.notes.append(
                f"{len(non_200)} non-200 responses, first: HTTP "
                f"{non_200[0].status} {non_200[0].error}"
            )
        self.attempted += len(checked) + acked
        self.failed += len(non_200) + bad_pages + lost

        ok = [r.ms for r in reqs if r.status == 200]
        if len(ok) < 2 or not fresh:
            raise RuntimeError(
                f"too few samples: {len(ok)} searches, {len(fresh)} freshness"
            )
        ingest_rate = statistics.median(self.setup_rates)
        end_to_end = {
            "setup_s": (statistics.median(setup_times), "s"),
            "search_p50_ms": (statistics.median(ok), "ms"),
            "search_p90_ms": (pctl(ok, 0.9), "ms"),
            "search_qps": (len(ok) / measured_s, "1/s"),
            "freshness_p50_ms": (statistics.median(fresh), "ms"),
            "ingest_records_per_s": (ingest_rate, "rec/s"),
            "space_amp": (store_bytes / live_bytes, "ratio"),
            "driver_nonheap_rss_peak_mb": (rss, "MB"),
        }
        steal1, total1 = cpu_ticks()
        info = {
            "workload": self.workload, "seed": self.seed,
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg": os.getloadavg(), "session_start_s": session_s,
            # the share of CPU time the hypervisor gave to other guests
            "steal": (steal1 - steal0) / (total1 - total0),
            "searches": len(reqs), "setup_s": setup_times,
            "freshness_ms": [round(f, 1) for f in fresh], "phase_end_s": marks,
            "notes": self.notes,
        }
        print(json.dumps(info), flush=True)
        if not self.trace:
            metrics = end_to_end
        else:
            from layers import per_layer

            metrics = per_layer(
                self, st, win_tracer, reqs, untraced,
                dict(
                    session_s=session_s, stored_rows=stored_rows, live=live,
                    landing_files=landing_files, staging_files=staging_files,
                    ingest_log=self.ingest_log,
                ),
            )
        st.close()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def check_pages(self, oracle, reqs: list[Request]) -> int:
        """Count pages that differ from the oracle's expected page."""
        memo: dict = {}
        bad = 0
        for r in reqs:
            if r.status != 200:
                continue
            # any state between the batches acknowledged before the request
            # and those started by its end is a correct answer
            base = self.inputs.setup_batches()
            srcs = [
                oracle.latest_table(base + k - 1)
                for k in range(r.acked, r.started + 1)
            ]
            for src in srcs:
                key = (src, r.search, r.start_after)
                if key not in memo:
                    memo[key] = oracle.page(r.search, r.start_after, r.search.limit, src)
                exp = memo[key]
                want = [(k, s, m) for k, s, m in exp[: r.search.limit]]
                if r.rows == want and r.truncated == (len(exp) > r.search.limit):
                    break
            else:
                bad += 1
                if bad <= 3:
                    self.notes.append(
                        f"wrong page: {r.search} after={r.start_after!r} "
                        f"got {len(r.rows)} rows"
                    )
        return bad


def _tier_bytes(st: Stack) -> int:
    return dir_bytes(st.store.landing) + dir_bytes(st.store.staging)


def pctl(values: list[float], q: float) -> float:
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Writer:
    """ingest_compact: a paced writer (one batch file every ``period_s``,
    drained by ``run_file_ingestion`` through the store's one checkpoint,
    then probed for its last key, compacting every few batches) beside one
    uncached reader running the search mix."""

    def __init__(self, bench: Bench, st: Stack):
        self.bench, self.st = bench, st
        self.batches = bench.inputs.window
        self.next = 0
        self.acked = 0
        self.started = 0
        self.freshness_ms: list[float] = []
        self.lost = 0
        self.unseen: list[int] = []
        self.measured_s = 0.0
        self.cursor = 0
        self.lock = threading.Lock()

    def window(self, seconds: float) -> list[Request]:
        b, st, p = self.bench, self.st, self.bench.p
        t0 = time.perf_counter()
        deadline = t0 + seconds
        reqs: list[Request] = []
        tracer = b.tracer

        def write() -> None:
            i = 0
            while self.next < len(self.batches):
                due = t0 + i * p["period_s"]
                if max(due, time.perf_counter()) >= deadline:
                    return
                time.sleep(max(0.0, due - time.perf_counter()))
                n = self.next
                with self.lock:
                    self.started = n + 1
                t_drop = st.drop(self.batches[n])
                st.ingest(len(self.batches[n].events))
                with self.lock:
                    self.acked = n + 1
                self.next += 1
                i += 1
                # the writer probes its own batch, so freshness does not
                # wait for whatever search the reader is running
                seen = probe_until_visible(
                    st.port, self.batches[n].events[-1], t_drop + PROBE_TIMEOUT_S
                )
                if seen is None:
                    self.unseen.append(n)
                else:
                    self.freshness_ms.append((seen - t_drop) * 1000)
                if self.next % p["compact_every"] == 0 and time.perf_counter() < deadline:
                    st.compact(force=False)

        def read() -> None:
            sessions = b.inputs.sessions[0]
            while time.perf_counter() < deadline:
                s = sessions[self.cursor % len(sessions)]
                self.cursor += 1
                start = s.start_after
                for _ in range(s.pages):
                    with self.lock:
                        acked = self.acked
                    r = search_once(st.port, s, start, s.limit, 0, tracer)
                    with self.lock:
                        r.acked, r.started = acked, self.started
                    reqs.append(r)
                    if not r.truncated or time.perf_counter() >= deadline:
                        break
                    start = r.next_start

        w = threading.Thread(target=write)
        w.start()
        read()
        w.join()
        self.measured_s += time.perf_counter() - t0
        return reqs

    def finish(self) -> None:
        """Every acknowledged batch must become visible: probe again the
        ones the writer did not see inside its probe timeout."""
        for n in self.unseen:
            seen = probe_until_visible(
                self.st.port, self.batches[n].events[-1],
                time.perf_counter() + PROBE_TIMEOUT_S,
            )
            if seen is None:
                self.lost += 1


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def running(pid: int) -> bool:
    """Whether ``pid`` still runs; a zombie child of ours is reaped here."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass  # another process's zombie: it has ended
        return False
    return True


def stop_spark(timeout: float = 60.0) -> None:
    """Stop Spark, then end its JVM and every process under it and wait
    until all have ended. Stopping the context alone leaves the JVM running
    until it sees its stdin close, a few seconds after this process exits."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    below = descendants(os.getpid())
    sc = SparkContext._active_spark_context
    try:
        if sc is not None:
            sc.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + timeout
        left = [p for p in below if running(p)]
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = [p for p in left if running(p)]
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while any(running(p) for p in left):
            time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test sizes: every code path, tiny inputs")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "clueso_spark", "__init__.py")):
        print("perfbench: run from the root of a clueso_spark checkout "
              "(no clueso_spark/ here)", file=sys.stderr)
        return 2
    work = os.path.join(
        root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work)
    pin_env(root, work)
    sys.path.insert(1, root)
    try:
        try:
            result = Bench(args, work).run()
        finally:
            stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
