"""Search metrics: per-bucket query counters and timings.

Python-side counterpart of SearchMetricsSource
(ref: org/apache/spark/clueso/metrics/SearchMetricsSource.scala:1-167),
which registers Codahale gauges for per-bucket cache RDD sizes and search
timings. We keep the same metric names but expose them as a plain
dict + optional graphite line emission (the reference's transport,
ref: MetadataStorageInfoTool.scala:24-38) -- a metrics *sink* is
deployment plumbing, not engine semantics.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict, deque
from contextlib import contextmanager


#: per-timing-series retention: the rolling window snapshot() averages
#: over. A long-lived serve deployment records every search here; an
#: unbounded list would be a slow leak and O(history) work per report.
TIMING_WINDOW = 1024


class SearchMetrics:
    """Thread-safe counters: searches per bucket and their latency.

    Timing series keep a bounded rolling window (TIMING_WINDOW samples;
    ``.avg`` is the window average, ``.last`` the latest) -- lifetime
    volume lives in the paired ``search_count.*`` counters."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.counters: dict[str, int] = defaultdict(int)
        self.timings_ms: dict[str, deque[float]] = defaultdict(
            lambda: deque(maxlen=TIMING_WINDOW)
        )

    def incr(self, name: str, by: int = 1) -> None:
        with self._lock:
            self.counters[name] += by

    @contextmanager
    def time(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.timings_ms[name].append((time.perf_counter() - t0) * 1e3)

    def search_timed(self, bucket: str):
        """ref metric name: search_time.<bucket>.milli (bin/search.py:75-81)"""
        self.incr(f"search_count.{bucket}")
        return self.time(f"search_time.{bucket}.milli")

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            out: dict[str, float] = dict(self.counters)
            for name, vals in self.timings_ms.items():
                if vals:
                    out[f"{name}.avg"] = sum(vals) / len(vals)
                    out[f"{name}.last"] = vals[-1]
            return out

    def graphite_lines(self, prefix: str = "search_metadata") -> list[str]:
        now = int(time.time())
        return [
            f"{prefix}.{name} {value} {now}"
            for name, value in sorted(self.snapshot().items())
        ]

    def set_gauge(self, name: str, value: float) -> None:
        """Gauge semantics (set, not add) -- the Codahale Gauge shape the
        reference registers per cached RDD (ref:
        SearchMetricsSource.scala:138-161)."""
        with self._lock:
            self.counters[name] = value


class GraphiteSink:
    """Plaintext-protocol Graphite TCP client: ``<path> <value> <ts>\\n``
    lines over one socket (the reference's transport -- its
    GraphiteReporter and bin/search.py:52-56 both speak exactly this).
    Reconnects once per send on a dead socket; close() is idempotent."""

    def __init__(self, host: str, port: int, timeout_s: float = 5.0):
        import socket as _socket

        self._addr = (host, port)
        self._timeout = timeout_s
        self._socket_mod = _socket
        self._sock = None
        self._closed = False
        # one socket, potentially two writers (timer tick + stop() final
        # flush): serialize sends or the plaintext lines interleave
        self._send_lock = threading.Lock()

    def _connect(self):
        s = self._socket_mod.create_connection(self._addr, self._timeout)
        self._sock = s
        return s

    def send(self, lines: list[str]) -> None:
        if not lines:
            return
        payload = ("\n".join(lines) + "\n").encode()
        with self._send_lock:
            if self._closed:
                # a tick in flight when stop() closed the sink must not
                # reconnect: it would leak a socket nothing ever closes
                # and ship a duplicate post-stop snapshot
                return
            sock = self._sock
            try:
                (sock or self._connect()).sendall(payload)
            except OSError:
                # one reconnect attempt, then let the error surface: a
                # single send must never spin-retry into a dead collector
                self._close_unlocked()
                self._connect().sendall(payload)

    def close(self) -> None:
        with self._send_lock:
            self._closed = True
            self._close_unlocked()

    def _close_unlocked(self) -> None:
        if self._sock is not None:
            try:
                self._sock.close()
            finally:
                self._sock = None

    def __enter__(self) -> "GraphiteSink":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class GraphiteReporter:
    """Periodic shipper: every ``interval_s`` (reference default 5 s,
    ref: SearchMetricsSource.scala:56-58) snapshot the registry and send
    one batch of graphite lines under ``prefix`` (reference prefix
    ``spark.clueso_searcher.driver.search``, scala:54-55). ``report()``
    may also be called directly (the reference exposes the same manual
    ``sendToGraphite`` path, scala:65-74). Runs on a daemon timer;
    stop() flushes once so short-lived jobs never lose their final
    snapshot."""

    def __init__(
        self,
        metrics: SearchMetrics,
        sink: GraphiteSink,
        prefix: str = "spark.clueso_searcher.driver.search",
        interval_s: float = 5.0,
    ):
        self.metrics = metrics
        self.sink = sink
        self.prefix = prefix
        self.interval_s = interval_s
        self._timer: threading.Timer | None = None
        self._stopped = threading.Event()
        #: consecutive failed reports; drives the backoff and is
        #: observable for tests/operators
        self.consecutive_errors = 0

    def report(self) -> None:
        self.sink.send(self.metrics.graphite_lines(self.prefix))

    def _tick(self) -> None:
        if self._stopped.is_set():
            return
        try:
            self.report()
            self.consecutive_errors = 0
        except OSError:
            # a dead collector must not traceback-spam the timer thread
            # every interval, and must never kill the app: count, back
            # off (capped 8x), keep trying -- metrics resume when the
            # collector does
            self.consecutive_errors += 1
        finally:
            self._schedule()

    def _schedule(self) -> None:
        if self._stopped.is_set():
            return
        delay = self.interval_s * 2 ** min(self.consecutive_errors, 3)
        self._timer = threading.Timer(delay, self._tick)
        self._timer.daemon = True
        self._timer.start()

    def start(self) -> "GraphiteReporter":
        self._stopped.clear()
        self._schedule()
        return self

    def stop(self) -> None:
        """Cancel the timer, flush one final snapshot (mirrors the
        reference's shutdown hook closing the Graphite client,
        scala:41-44), and close the socket. A dead collector at
        shutdown must not turn a clean exit into a traceback -- the
        flush is best-effort, the close is unconditional."""
        self._stopped.set()
        if self._timer is not None:
            self._timer.cancel()
        try:
            self.report()
        except OSError:
            self.consecutive_errors += 1
        finally:
            self.sink.close()


def sweep_rdd_storage_gauges(spark, metrics: SearchMetrics) -> int:
    """Refresh per-cached-RDD storage gauges from the live SparkContext
    (the reference's registerRddMetrics sweep, scala:102-136, which
    walks sparkContext.getRDDStorageInfo for cached RDDs and registers
    numPartitions / numCachedPartitions / memSize / diskSize gauges per
    parsed name; externalBlockStoreSize died with Spark 2 and is
    omitted). RDD names here are sanitized plan/view names; entries for
    RDDs that got unpersisted are dropped so the gauge set tracks the
    live cache. Returns the number of cached RDDs swept."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    with metrics._lock:
        for stale in [k for k in metrics.counters if k.startswith("rdd.")]:
            del metrics.counters[stale]
    n = 0
    for info in infos:
        if not info.isCached():
            continue
        n += 1
        raw = info.name() or f"rdd_{info.id()}"
        tag = "-".join(str(raw).split())[:80]
        metrics.set_gauge(f"rdd.{tag}.numPartitions", info.numPartitions())
        metrics.set_gauge(
            f"rdd.{tag}.numCachedPartitions", info.numCachedPartitions()
        )
        metrics.set_gauge(f"rdd.{tag}.memSize", info.memSize())
        metrics.set_gauge(f"rdd.{tag}.diskSize", info.diskSize())
    return n


def attach_streaming_metrics(spark, metrics: SearchMetrics):
    """Register a StreamingQueryListener feeding ingestion progress into
    the registry: rows ingested and batch duration per query name. This
    is the metrics-system integration PySpark actually exposes (a
    Python process cannot subclass the JVM Source interface the
    reference registers, ref scala:39-60; the Graphite transport and
    metric names are identical either way). Returns the listener so
    callers can removeListener() on teardown."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _IngestionListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            metrics.incr("streaming.queries_started")

        def onQueryProgress(self, event):
            p = event.progress
            name = p.name or p.id
            metrics.incr(f"streaming.{name}.input_rows", p.numInputRows)
            metrics.set_gauge(
                f"streaming.{name}.batch_duration_ms",
                p.durationMs.get("triggerExecution", 0),
            )

        def onQueryTerminated(self, event):
            metrics.incr("streaming.queries_terminated")

        def onQueryIdle(self, event):
            pass

    listener = _IngestionListener()
    spark.streams.addListener(listener)
    return listener
