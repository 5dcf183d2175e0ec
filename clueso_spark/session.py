"""Tuned SparkSession builder.

The reference tunes its sessions via spark-defaults
(ref: docker/images/clueso-docker-livy/conf/spark-defaults.conf:1-12 --
spark.sql.shuffle.partitions=800, Kryo, s3a fast upload at
SparkUtils.scala:40-55).  On Spark 3/4 most of that hand-tuning is subsumed
by AQE; we enable it and keep the rest as config, not code.

Scale stance: shuffle-partition count here is the *local* default; on a real
cluster AQE coalescing makes the initial number mostly irrelevant as long as
it is high enough (set spark.sql.shuffle.partitions ~ 2-3x total cores via
spark-submit conf; AQE merges small post-shuffle partitions at runtime).
That holds for plans that run, not for plans that are *persisted*: by
default Spark freezes a cached plan's output partitioning
(``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false``), so
AQE never merges a cached plan's shuffle partitions and every read of it
runs one task per partition. The search engine lifts that in its own
session (:func:`engine_session`), not here: the catalog persists
pre-partitioned intermediates that rely on the frozen partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _memory_limit_bytes() -> int | None:
    """Physical memory, or the cgroup v2 limit if that is lower."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return None
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw.isdigit():
            total = min(total, int(raw))
    except OSError:
        pass
    return total


def default_driver_memory(
    env: dict[str, str] | None = None, limit_bytes: int | None = None
) -> str:
    """Driver heap for :func:`get_spark`: ``SPARK_GRAFT_DRIVER_MEM`` if
    set, else half the host's memory capped at 32g (floor 1g). A fixed
    32g heap on a smaller host lets the JVM grow past physical memory
    and be OOM-killed; a 64 GB+ host still gets the full 32g."""
    env = env if env is not None else os.environ
    if env.get("SPARK_GRAFT_DRIVER_MEM"):
        return env["SPARK_GRAFT_DRIVER_MEM"]
    if limit_bytes is None:
        limit_bytes = _memory_limit_bytes()
    if limit_bytes is None:
        return "32g"
    mb = min(32 * 1024, max(1024, limit_bytes // 2 // (1024 * 1024)))
    return f"{mb}m"


def s3a_conf(
    endpoint: str,
    access_key: str,
    secret_key: str,
    *,
    path_style: bool = True,
) -> dict[str, str]:
    """S3/S3A connector configuration for an object-store deployment
    (ref: SparkUtils.scala:40-55 -- endpoint, credentials, fast upload,
    path-style access). Config, not code: pass the result into
    ``get_spark(**s3a_conf(...))`` or spark-submit --conf. The Spark-2-era
    knobs the reference also sets (parquet.cacheMetadata, DNS ttl hack)
    are obsolete on Spark 3/4 and intentionally absent."""
    return {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.access.key": access_key,
        "spark.hadoop.fs.s3a.secret.key": secret_key,
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        "spark.hadoop.fs.s3a.fast.upload": "true",
        "spark.hadoop.fs.s3a.connection.ssl.enabled": "false",
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
    }


def env_extra_conf(env: dict[str, str] | None = None) -> dict[str, str]:
    """Parse ``SPARK_GRAFT_EXTRA_CONF`` (semicolon-separated ``k=v``
    pairs, e.g. ``spark.a=1;spark.b=2``) into a conf dict. Malformed
    fragments (no ``=``) are ignored; whitespace around keys/values is
    stripped."""
    raw = (env if env is not None else os.environ).get(
        "SPARK_GRAFT_EXTRA_CONF", ""
    )
    out: dict[str, str] = {}
    for pair in raw.split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            if k.strip():
                out[k.strip()] = v.strip()
    return out


def get_spark(app_name: str = "clueso-spark", **extra_conf: str) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Honors ``SPARK_GRAFT_CPUS`` for local master sizing. Any ``extra_conf``
    key/values are applied last and win.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # local mode runs every "executor" thread inside the driver JVM;
        # Spark's 1g default heap OOMs real workloads on a 32-core box.
        # Only effective at JVM launch (ignored on an existing session,
        # and on a real cluster spark-submit conf wins).
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # explicit schemas everywhere; never pay footer-inference listing cost
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # read INT64 TIMESTAMP(NANOS) parquet columns as raw longs (the
        # driver testdata's events.ts); set at session build instead of
        # mutating conf inside table loaders (a read side effect)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # RocksDB state store for Structured Streaming: measured on
        # st_stateful_latest at sf0.1 -- warm 2.9 s -> 2.2 s, cold
        # 14.6 s -> 4.6 s vs the default HDFS-backed provider; at scale
        # it also keeps state off the executor HEAP (disk-backed with
        # block-cache), so watermark-bounded state cannot OOM an
        # executor during a backlog drain. Results are byte-identical
        # (provider changes storage, not semantics).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # pin Python-worker reuse explicitly (the documented default,
        # but st_stateful_latest's driver-run readings have twice
        # spiked ~2x on fresh-session applyInPandasWithState worker
        # spin-up -- r11: 5.6 s, r13: 3.0 s vs 1.5-1.8 s canonical;
        # VERDICT r13 watch item. Reuse keeps the 32 spawned workers
        # alive across the query's stages so the spin-up is paid once,
        # and pinning it here guards against a future default flip.)
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    if not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    # deployment/experiment conf passthrough: lets an operator or an
    # A/B harness override any session setting without code churn,
    # keeping scale-dependent tuning parameterised rather than
    # hard-coded. Applied before programmatic extra_conf, which stays
    # the last word for in-repo callers.
    env_conf = env_extra_conf()
    for k, v in env_conf.items():
        builder = builder.config(k, v)
    for k, v in extra_conf.items():
        builder = builder.config(k.replace("__", "."), v)
    existing = (
        SparkSession.getActiveSession() or SparkSession._instantiatedSession
    )
    spark = builder.getOrCreate()
    # getOrCreate() on an EXISTING session applies only runtime-
    # modifiable SQL confs; static SQL confs and core (non-SQL) confs
    # land in the conf MAP (conf.get shows the new value) but never
    # reach the already-running JVM/scheduler -- silently inert. For a
    # knob meant to drive A/B experiments that corrupts the comparison
    # (both arms run the same effective conf), so warn per ignored key
    # (ADVICE r15). conf.isModifiable is the authoritative test; the
    # session conf cannot detect this (verified: an inert core conf still
    # reads back as the requested value), but the SparkContext's launch
    # conf can: a key launched with the same value already applies.
    if existing is not None and spark is existing:
        launch_conf = spark.sparkContext.getConf()
        for k, v in env_conf.items():
            if not spark.conf.isModifiable(k) and launch_conf.get(k, None) != v:
                import warnings

                warnings.warn(
                    f"SPARK_GRAFT_EXTRA_CONF {k}={v} cannot take effect "
                    "on the already-running SparkSession (static/core "
                    "conf); restart the process for it to apply",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return spark


def engine_session(spark: SparkSession) -> SparkSession:
    """A session for the search engine, scoped off ``spark``.

    ``spark.newSession()`` shares the SparkContext and the cache manager
    but carries its own SQL conf. It starts from the caller's current
    runtime SQL conf (so e.g. a session time zone set at runtime still
    applies to searches) and then lets AQE change a cached plan's output
    partitioning: each per-bucket cached view is then sized by its bytes
    (one partition for a small bucket, many for a large one) instead of
    one partition per ``spark.sql.shuffle.partitions``. The caller's
    session keeps Spark's default, which the catalog's persisted
    pre-partitioned edge lists depend on."""
    session = spark.newSession()
    for k, v in spark.conf.getAll.items():
        if spark.conf.isModifiable(k):
            session.conf.set(k, v)
    session.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    return session
