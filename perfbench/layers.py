"""Per-layer metrics for the traced run (``--trace 1``).

Every figure comes from spans the benchmark recorded around its calls into
a layer (``spans.py``), from counts taken at the same boundaries, or from a
probe the benchmark runs after the window: materialising each bucket's
merged view (``merge.*``) and a seeded catalog slice (``catalog.*``).
"""

from __future__ import annotations

import os
import random
import statistics
import time

from gen import BUCKETS
from spans import Tracer, job_counts

#: the catalog slice: one query per family whose inputs the benchmark can
#: generate from its seed (the ``events`` table)
CATALOG_SLICE = ("ev_latest_no_tombstone", "st_stateful_latest")
CATALOG_REPS = 2
SELF_LAYERS = ("client", "rest", "query", "cache", "store", "merge",
               "streaming", "compact", "plans")


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def per_request(tr: Tracer, name: str) -> dict[str, float]:
    """Summed duration (s) of ``name`` spans per request id."""
    out: dict[str, float] = {}
    for s in tr.named(name):
        out[s.request] = out.get(s.request, 0.0) + (s.end - s.start)
    return out


def per_layer(bench, st, tr: Tracer, reqs, untraced, extra: dict) -> dict:
    setup_tr: Tracer = bench.setup_tracer
    rids = [r.rid for r in reqs if r.status == 200 and r.rid]
    client = per_request(tr, "client.http")
    search = per_request(tr, "query.search")
    render = per_request(tr, "rest.render")
    plan = per_request(tr, "query.plan")
    listing = per_request(tr, "store.list")
    searches = tr.named("query.search")

    def ms(d: dict, rid) -> float:
        return d.get(rid, 0.0) * 1000

    m: dict[str, tuple[float, str]] = {}
    m["rest.render_ms"] = (_median(ms(render, r) for r in rids), "ms")
    m["rest.overhead_ms"] = (
        _median(ms(client, r) - ms(search, r) - ms(render, r) for r in rids), "ms"
    )
    m["query.plan_ms"] = (_median(ms(plan, r) for r in rids), "ms")
    for phase in ("analysis", "optimization", "planning"):
        m[f"query.{phase}_ms"] = (
            _median(s.attrs.get(f"{phase}_ms", 0.0) for s in searches), "ms"
        )
    m["query.collect_ms"] = (
        _median(ms(search, r) - ms(plan, r) for r in rids), "ms"
    )
    m["query.jobs"] = (_mean(s.attrs.get("jobs", 0) for s in searches), "count")
    m["query.tasks"] = (_mean(s.attrs.get("tasks", 0) for s in searches), "count")

    gets = setup_tr.named("cache.get") + tr.named("cache.get")
    misses = [s for s in gets if not s.attrs.get("hit")]
    win_gets = tr.named("cache.get")
    m["cache.build_ms"] = (_median((s.end - s.start) * 1000 for s in misses), "ms")
    m["cache.builds"] = (len(misses), "count")
    m["cache.hit_ratio"] = (
        sum(bool(s.attrs.get("hit")) for s in win_gets) / len(win_gets)
        if win_gets else 0.0,
        "ratio",
    )

    m["store.list_ms"] = (_median(ms(listing, r) for r in rids), "ms")
    m["store.landing_files"] = (extra["landing_files"], "count")
    m["store.staging_files"] = (extra["staging_files"], "count")
    m["store.read_amp"] = (extra["stored_rows"] / max(1, extra["live"]), "ratio")

    merge_s, rows_in, rows_out = merge_probe(bench.spark, st)
    m["merge.ms"] = (merge_s * 1000, "ms")
    m["merge.rows_in"] = (rows_in, "count")
    m["merge.rows_out"] = (rows_out, "count")

    log = extra["ingest_log"]
    m["ingest.batch_ms"] = (_median(dt * 1000 for _n, dt, _f in log), "ms")
    m["ingest.landing_files_per_batch"] = (_median(f for _n, _dt, f in log), "count")
    m["ingest.drops"] = (bench.drops.total if bench.drops else 0, "count")

    compactions = [
        s for s in setup_tr.named("compact.bucket") + tr.named("compact.bucket")
        if s.attrs.get("done")
    ]
    read = sum(s.attrs["bytes_read"] for s in compactions)
    written = sum(s.attrs["bytes_written"] for s in compactions)
    m["compact.bucket_ms"] = (
        _median((s.end - s.start) * 1000 for s in compactions), "ms"
    )
    m["compact.mb_read"] = (read / 2**20, "MB")
    m["compact.mb_written"] = (written / 2**20, "MB")
    m["compact.write_amp"] = ((read + written) / read if read else 0.0, "ratio")

    plans_tr = Tracer()
    cat, cat_failed = catalog_slice(bench, plans_tr)
    m.update(cat)
    bench.attempted += len(CATALOG_SLICE)
    bench.failed += cat_failed

    self_ms = tr.self_times_ms()
    self_ms["plans"] = plans_tr.self_times_ms().get("plans", 0.0)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = (self_ms.get(layer, 0.0), "ms")

    traced = _median(r.ms for r in reqs if r.status == 200)
    plain = _median(r.ms for r in untraced if r.status == 200)
    m["trace.untraced_p50_ms"] = (plain, "ms")
    m["trace.traced_p50_ms"] = (traced, "ms")
    m["trace.overhead_ratio"] = (traced / plain if plain else 0.0, "ratio")
    m["session.start_s"] = (extra["session_s"], "s")
    return m


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def merge_probe(spark, st) -> tuple[float, int, int]:
    """Materialise every bucket's ``merged_latest_state`` through the noop
    sink: the merge-on-read cost with no predicate, top-k or cache."""
    from clueso_spark.operators.merge import merged_latest_state

    total, rows_in, rows_out = 0.0, 0, 0
    for bucket in BUCKETS:
        landing = st.store.read_landing(bucket)
        staging = st.store.read_staging(bucket)
        df = merged_latest_state(landing, staging)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        total += time.perf_counter() - t0
        rows_in += landing.count() + staging.count()
        rows_out += df.count()
    return total, rows_in, rows_out


def write_events_table(sf_dir: str, seed: int, n: int = 3_000) -> None:
    """A seeded ``events`` table in the catalog's testdata schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"catalog:{seed}")
    types = ("click", "purchase", "error", "signup", "view")
    t0 = 1_704_067_200_000_000  # 2024-01-01 in microseconds
    ts = sorted(t0 + rng.randrange(30 * 86_400_000_000) for _ in range(n))
    table = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(60) for _ in range(n)], pa.int64()),
        "event_type": pa.array([rng.choice(types) for _ in range(n)]),
        "value": pa.array([round(rng.expovariate(0.02), 2) for _ in range(n)]),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(n)]),
    })
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))


def catalog_slice(bench, tr: Tracer) -> tuple[dict, int]:
    """Time each slice query (plan build, then execution through the noop
    sink) and check its result once against its DuckDB oracle through
    ``plans.parity``, outside the timed region."""
    import duckdb

    from clueso_spark.plans.catalog import all_queries
    from clueso_spark.plans.parity import compare

    spark, sc = bench.spark, bench.spark.sparkContext
    sf = os.path.join(bench.work, "catalog")
    write_events_table(sf, bench.seed)
    con = duckdb.connect()
    con.execute(f"create view events as select * from '{sf}/events.parquet'")
    queries = all_queries()
    out: dict[str, tuple[float, str]] = {}
    families: dict[str, float] = {}
    failed = 0
    try:
        for name in CATALOG_SLICE:
            cq = queries[name]
            res = compare(name, cq.spark(spark, sf), cq.oracle, con)
            if not res.ok:
                failed += 1
                bench.notes.append(f"catalog {name} differs: {res.detail}")
            runs, builds, jobs = [], [], []
            for rep in range(CATALOG_REPS):
                group = f"bench-catalog-{name}-{rep}"
                sc.setJobGroup(group, "perfbench catalog")
                try:
                    with tr.span(f"plans.{name}"):
                        t0 = time.perf_counter()
                        df = cq.spark(spark, sf)
                        builds.append(time.perf_counter() - t0)
                        df.write.format("noop").mode("overwrite").save()
                        runs.append(time.perf_counter() - t0)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                jobs.append(job_counts(sc, group)["jobs"])
            out[f"catalog.{name}_s"] = (statistics.median(runs), "s")
            out[f"catalog.{name}_build_s"] = (statistics.median(builds), "s")
            out[f"catalog.{name}_jobs"] = (statistics.median(jobs), "count")
            family = name.split("_", 1)[0]
            families[family] = families.get(family, 0.0) + statistics.median(runs)
    finally:
        con.close()
    for family, s in families.items():
        out[f"catalog.family.{family}_s"] = (s, "s")
    return out, failed


class DropCounter:
    """Sums the ``ingest_drops`` observation of every streaming progress
    event (the envelopes ``parse_events`` discarded)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                row = event.progress.observedMetrics.get("ingest_drops")
                if row is not None:
                    counter.total += int(row["null_type"]) + int(row["null_op_index"])

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.total = 0
        self.listener = _Listener()
        spark.streams.addListener(self.listener)
