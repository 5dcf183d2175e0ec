"""In-memory spans around the calls the benchmark makes into each layer.

A span has a name (``<layer>.<what>``), a start, an end, a parent span and
a request id. Spans stay in memory until the run ends. A layer's self time
is the sum over its spans of the span's duration minus the part of it that
child spans cover.

``instrument`` wraps public engine entry points for the traced run only;
it edits no engine file and ``undo`` puts every original back.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, *, parent: int | None = None,
             request: str | None = None, **attrs):
        stack = self._stack()
        up = stack[-1] if stack else None
        s = Span(
            next(self._ids), name, time.perf_counter(),
            parent=parent if parent is not None else (up.id if up else None),
            request=request or (up.request if up else None),
            attrs=attrs,
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per layer, in ms."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            own = max(0.0, (s.end - s.start) - covered)
            out[s.layer] = out.get(s.layer, 0.0) + own * 1000
        return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total


def instrument(tracer: Tracer, spark) -> callable:
    """Wrap the engine's layer entry points with spans. Returns ``undo``."""
    from clueso_spark.operators import cache as cache_mod
    from clueso_spark.operators import compact as compact_mod
    from clueso_spark.operators import query as query_mod
    from clueso_spark.server import rest
    from clueso_spark.sources import store as store_mod

    sc = spark.sparkContext
    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def do_get(orig):
        def wrapped(handler):
            rid = handler.headers.get("X-Bench-Request")
            parent = handler.headers.get("X-Bench-Span")
            with tracer.span("rest.request", request=rid,
                             parent=int(parent) if parent else None):
                return orig(handler)
        return wrapped

    def render(orig):
        def wrapped(*a, **kw):
            with tracer.span("rest.render"):
                return orig(*a, **kw)
        return wrapped

    def execute(orig):
        def wrapped(self, query):
            with tracer.span("query.plan"):
                df = orig(self, query)
            tracer._local.last_df = df
            return df
        return wrapped

    def execute_collected(orig):
        def wrapped(self, query):
            group = f"bench-{next(tracer._ids)}"
            sc.setJobGroup(group, "perfbench search")
            try:
                with tracer.span("query.search") as sp:
                    rows = orig(self, query)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            df = getattr(tracer._local, "last_df", None)
            if df is not None:
                sp.attrs.update(catalyst_phases_ms(df))
            sp.attrs.update(job_counts(sc, group))
            return rows
        return wrapped

    def cache_get(orig):
        def wrapped(self, bucket, builder):
            built = []

            def timed_builder():
                with tracer.span("cache.build"):
                    built.append(1)
                    return builder()

            with tracer.span("cache.get") as sp:
                df = orig(self, bucket, timed_builder)
            # the build's eager count() runs inside get(): time the whole
            # miss, not only the plan the builder returns
            sp.attrs["hit"] = not built
            return df
        return wrapped

    def read_tier(orig):
        def wrapped(self, bucket):
            with tracer.span("store.list"):
                return orig(self, bucket)
        return wrapped

    def merged(orig):
        def wrapped(*a, **kw):
            with tracer.span("merge.plan"):
                return orig(*a, **kw)
        return wrapped

    def compact_bucket(orig):
        def wrapped(self, bucket, force=False):
            subs = self.sub_partitions_to_compact(bucket, force)
            read = sum(
                dir_bytes(f"{self.store.landing}/bucket={bucket}/maxOpIndex={s}")
                for s in subs
            )
            staged = f"{self.store.staging}/bucket={bucket}"
            before = dir_bytes(staged)
            with tracer.span("compact.bucket") as sp:
                done = orig(self, bucket, force)
            sp.attrs.update(
                done=done, bytes_read=read if done else 0,
                bytes_written=dir_bytes(staged) - before,
            )
            return done
        return wrapped

    patch(rest._Handler, "do_GET", do_get)
    patch(rest, "s3_xml_listing", render)
    patch(query_mod.MetadataQueryExecutor, "execute", execute)
    patch(query_mod.MetadataQueryExecutor, "execute_collected", execute_collected)
    patch(cache_mod.BucketCacheManager, "get", cache_get)
    patch(store_mod.MetadataStore, "read_landing", read_tier)
    patch(store_mod.MetadataStore, "read_staging", read_tier)
    patch(query_mod, "merged_latest_state", merged)
    patch(compact_mod.Compactor, "compact_bucket", compact_bucket)

    def undo() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return undo


def catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations from the query's own tracker (no UI)."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name + "_ms"] = float(opt.get().durationMs())
    return out


def job_counts(sc, group: str) -> dict[str, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return {"jobs": len(jobs), "tasks": tasks}
