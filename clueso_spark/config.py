"""Deployment configuration: one place to configure an installation.

Stand-in for the reference's HOCON CluesoConfig
(ref: CluesoConfig.scala:1-84): every operational knob the engine reads,
as a dataclass loadable from a JSON file and/or ``CLUESO_*`` environment
variables (layered: defaults < file < env). Engine modules keep taking
plain constructor kwargs -- this object is the composition root that
feeds them, not a hidden global.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, fields


@dataclass
class CluesoSparkConfig:
    # storage layout (ref: CluesoConfig.scala:38-40 landing/staging URIs)
    store_root: str = "/tmp/clueso-store"
    checkpoint_path: str = "/tmp/clueso-checkpoint"

    # streaming source (ref: CluesoConfig.scala:25-31)
    kafka_bootstrap_servers: str = "localhost:9092"
    kafka_topic: str = "backbeat"
    trigger_processing_time: str = "10 seconds"

    # ingestion (ref: CluesoConfig.scala compaction_record_interval)
    compaction_record_interval: int = 100_000
    excluded_buckets: tuple[str, ...] = field(default_factory=tuple)

    # query cache (ref: CluesoConfig.scala cache_dataframes/cache_expiry)
    cache_dataframes: bool = True
    cache_expiry_s: float = 60.0
    cache_cleanup_delay_s: float = 120.0

    # compaction (ref: CluesoConfig.scala landing_purge_tolerance)
    landing_purge_tolerance_s: float = 0.0
    target_file_bytes: int = 128 * 1024 * 1024
    stale_lock_s: float = 3600.0

    # merge-on-read dedup strategy: "window" (reference-parity row_number)
    # or "max_by" (sort-free hash aggregate for replay-heavy stores)
    merge_strategy: str = "window"

    # diagnostics (ref: spark_sql_print_explain, MetadataQueryExecutor:88-92)
    print_explain: bool = False

    # metrics transport (ref: CluesoConfig graphiteHost/graphitePort,
    # SearchMetricsSource.scala:50-58: empty host = metrics stay local)
    graphite_host: str = ""
    graphite_port: int = 2003
    graphite_interval_s: float = 5.0

    @classmethod
    def load(
        cls, path: str | None = None, env: dict[str, str] | None = None
    ) -> "CluesoSparkConfig":
        """defaults < json file < CLUESO_* env vars."""
        values: dict = {}
        if path:
            with open(path) as f:
                values.update(json.load(f))
        env = os.environ if env is None else env
        for f_ in fields(cls):
            key = f"CLUESO_{f_.name.upper()}"
            if key in env:
                raw = env[key]
                if f_.type in ("int",):
                    values[f_.name] = int(raw)
                elif f_.type in ("float",):
                    values[f_.name] = float(raw)
                elif f_.type in ("bool",):
                    values[f_.name] = raw.lower() in ("1", "true", "yes")
                elif "tuple" in str(f_.type):
                    values[f_.name] = tuple(x for x in raw.split(",") if x)
                else:
                    values[f_.name] = raw
        if "excluded_buckets" in values:
            values["excluded_buckets"] = tuple(values["excluded_buckets"])
        return cls(**values)


@dataclass
class Engine:
    """What build_engine wires: the (store, executor, compactor) triple
    plus owned background resources. Iterable for the historical
    ``store, executor, compactor = build_engine(...)`` unpacking; call
    :meth:`close` in teardown so a configured GraphiteReporter (daemon
    timer + TCP socket) is flushed and stopped rather than leaked for
    the process lifetime (ADVICE r9: only serve_cli knew to stop it)."""

    store: object
    executor: object
    compactor: object
    #: the GraphiteReporter started when graphite_host is set, else None
    reporter: object | None = None

    def __iter__(self):
        return iter((self.store, self.executor, self.compactor))

    def close(self) -> None:
        """Stop owned background resources (best-effort final flush)."""
        if self.reporter is not None:
            self.reporter.stop()
            self.reporter = None


def build_engine(spark, config: CluesoSparkConfig) -> Engine:
    """Composition root: wire an :class:`Engine` from one config -- the
    deployment entry point a Livy-style service uses. The engine runs in
    its own session derived from ``spark`` (see
    :func:`clueso_spark.session.engine_session`); ``spark`` itself is
    left as it was. Callers that enable ``graphite_host`` own the
    returned engine's lifecycle: call ``engine.close()`` on shutdown
    (serve_cli does)."""
    from clueso_spark.operators.cache import BucketCacheManager
    from clueso_spark.operators.compact import Compactor
    from clueso_spark.operators.query import MetadataQueryExecutor
    from clueso_spark.session import engine_session
    from clueso_spark.sources.store import MetadataStore

    spark = engine_session(spark)
    store = MetadataStore(spark, config.store_root)
    cache = (
        BucketCacheManager(
            expiry_s=config.cache_expiry_s,
            cleanup_delay_s=config.cache_cleanup_delay_s,
        )
        if config.cache_dataframes
        else None
    )
    executor = MetadataQueryExecutor(
        spark,
        store,
        cache,
        print_explain=config.print_explain,
        merge_strategy=config.merge_strategy,
    )
    compactor = Compactor(
        store,
        purge_tolerance_s=config.landing_purge_tolerance_s,
        target_file_bytes=config.target_file_bytes,
        stale_lock_s=config.stale_lock_s,
    )
    reporter = None
    if config.graphite_host:
        # the reference constructs its SearchMetricsSource (and starts a
        # 5 s GraphiteReporter) only when graphiteHost is set
        # (SearchMetricsSource.scala:50-58); same switch here
        from clueso_spark.metrics import (
            GraphiteReporter,
            GraphiteSink,
            SearchMetrics,
        )

        executor.metrics = SearchMetrics()
        reporter = GraphiteReporter(
            executor.metrics,
            GraphiteSink(config.graphite_host, config.graphite_port),
            interval_s=config.graphite_interval_s,
        ).start()
    return Engine(store, executor, compactor, reporter)
