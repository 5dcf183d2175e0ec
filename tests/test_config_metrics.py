"""Config layering + metrics + explain capture + full engine wiring."""

from __future__ import annotations

import json

from clueso_spark.config import CluesoSparkConfig, build_engine
from clueso_spark.metrics import SearchMetrics
from clueso_spark.operators.query import MetadataQuery
from clueso_spark.streaming.ingest import parse_events
from tests.conftest import op, put_doc, raw_df, wire_event


def test_config_layering(tmp_path):
    cfg_file = tmp_path / "clueso.json"
    cfg_file.write_text(json.dumps({"cache_expiry_s": 30, "kafka_topic": "t1"}))
    cfg = CluesoSparkConfig.load(
        str(cfg_file),
        env={
            "CLUESO_KAFKA_TOPIC": "t2",  # env beats file
            "CLUESO_COMPACTION_RECORD_INTERVAL": "500",
            "CLUESO_CACHE_DATAFRAMES": "false",
            "CLUESO_EXCLUDED_BUCKETS": "selfbucket,other",
        },
    )
    assert cfg.cache_expiry_s == 30
    assert cfg.kafka_topic == "t2"
    assert cfg.compaction_record_interval == 500
    assert cfg.cache_dataframes is False
    assert cfg.excluded_buckets == ("selfbucket", "other")


def test_build_engine_and_metrics(spark, tmp_path):
    cfg = CluesoSparkConfig(
        store_root=str(tmp_path / "store"),
        cache_dataframes=False,
        print_explain=True,
    )
    store, executor, compactor = build_engine(spark, cfg)
    executor.metrics = SearchMetrics()
    store.write_landing(
        parse_events(
            raw_df(
                spark,
                [wire_event(op(1), "put", "mb", "k1", put_doc("k1", "mb"))],
            ),
            compaction_record_interval=10,
        )
    )
    out = executor.execute_json(MetadataQuery("mb", "", None, 10))
    assert '"key":"k1"' in out
    snap = executor.metrics.snapshot()
    assert snap["search_count.mb"] == 1
    assert snap["search_time.mb.milli.last"] > 0
    assert executor.metrics.graphite_lines()[0].startswith("search_metadata.")
    # explain capture (ref: MetadataQueryExecutor.scala:88-92)
    assert executor.last_explain and "Physical Plan" in executor.last_explain


def test_default_driver_memory_sized_from_host():
    """The driver heap is half the host's memory, capped at 32g and
    floored at 1g; SPARK_GRAFT_DRIVER_MEM overrides it."""
    from clueso_spark.session import default_driver_memory

    gib = 1024**3
    assert default_driver_memory(env={}, limit_bytes=16 * gib) == "8192m"
    assert default_driver_memory(env={}, limit_bytes=256 * gib) == "32768m"
    assert default_driver_memory(env={}, limit_bytes=1 * gib) == "1024m"
    assert default_driver_memory(
        env={"SPARK_GRAFT_DRIVER_MEM": "3g"}, limit_bytes=16 * gib
    ) == "3g"


def test_env_extra_conf_parsing():
    """SPARK_GRAFT_EXTRA_CONF: semicolon-separated k=v pairs reach the
    session builder; malformed fragments and blanks are ignored."""
    from clueso_spark.session import env_extra_conf

    assert env_extra_conf(env={}) == {}
    assert env_extra_conf(env={"SPARK_GRAFT_EXTRA_CONF": ""}) == {}
    assert env_extra_conf(
        env={
            "SPARK_GRAFT_EXTRA_CONF": (
                "spark.sql.join.preferSortMergeJoin=false; "
                "spark.io.compression.codec = zstd ;junk;=alsojunk"
            )
        }
    ) == {
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.io.compression.codec": "zstd",
    }
    # values may themselves contain '=' (split once on the first)
    assert env_extra_conf(
        env={"SPARK_GRAFT_EXTRA_CONF": "spark.x=a=b"}
    ) == {"spark.x": "a=b"}


def _env_conf_warnings(spark, monkeypatch, env_conf: str) -> list[str]:
    """Call get_spark() again on the running session with
    SPARK_GRAFT_EXTRA_CONF=env_conf; return the RuntimeWarnings raised."""
    import warnings

    from clueso_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", env_conf)
    # getOrCreate on the existing session APPLIES every modifiable
    # builder conf (get_spark's defaults included) to it -- snapshot and
    # restore the ones the shared test session depends on, or this test
    # would leak shuffle.partitions=32 into every later test
    restore = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
        )
    }
    try:
        with warnings.catch_warnings(record=True) as seen:
            warnings.simplefilter("always")
            got = get_spark("env-conf-warn-probe")
        assert got is spark or got.sparkContext is spark.sparkContext
    finally:
        for k, v in restore.items():
            spark.conf.set(k, v)
    return [str(w.message) for w in seen if issubclass(w.category, RuntimeWarning)]


def test_env_extra_conf_warns_when_existing_session_ignores(
    spark, monkeypatch
):
    """ADVICE r15: getOrCreate() on an existing session silently drops
    builder confs; an env override meant for an A/B must WARN when it
    did not take effect, or the experiment runs both arms identically."""
    # a STATIC conf an existing session cannot apply at runtime
    seen = _env_conf_warnings(
        spark, monkeypatch, "spark.executor.memoryOverheadFactor=0.42"
    )
    assert any("memoryOverheadFactor" in m for m in seen), seen


def test_env_extra_conf_silent_when_launch_conf_matches(spark, monkeypatch):
    """A core conf the running session was LAUNCHED with, at the same
    value, already applies: repeating it must not warn."""
    k = "spark.serializer"
    v = spark.sparkContext.getConf().get(k)
    assert v
    seen = _env_conf_warnings(spark, monkeypatch, f"{k}={v}")
    assert not any(k in m for m in seen), seen
