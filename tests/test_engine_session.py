"""The search engine's own session: build_engine scopes the engine off the
caller's session so AQE can right-size cached bucket views, without
changing anything in the caller's session."""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from clueso_spark.config import CluesoSparkConfig, build_engine
from clueso_spark.operators.query import MetadataQuery
from clueso_spark.streaming.ingest import parse_events
from tests.conftest import op, put_doc, raw_df, wire_event

BUCKET = "sessbucket"
CAN_CHANGE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _engine(spark, tmp_path, keys: int = 50):
    engine = build_engine(
        spark, CluesoSparkConfig(store_root=str(tmp_path / "store"))
    )
    lines = [
        wire_event(op(i + 1), "put", BUCKET, f"k{i:03d}",
                   put_doc(f"k{i:03d}", BUCKET, user_md={"n": str(i % 5)}))
        for i in range(keys)
    ]
    engine.store.write_landing(
        parse_events(raw_df(spark, lines), compaction_record_interval=1000)
    )
    return engine


def _jobs_and_tasks(sc, group: str, timeout_s: float = 30.0):
    """Jobs run under ``group`` and the tasks their stages ran. The
    status tracker is fed by the listener bus, so wait for every job to
    be recorded as finished before reading the stages."""
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        infos = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        if infos and all(i is not None and i.status == "SUCCEEDED" for i in infos):
            break
        assert time.monotonic() < deadline, "jobs never finished"
        time.sleep(0.05)
    stages = [st.getStageInfo(s) for i in infos for s in i.stageIds]
    return len(infos), sum(s.numCompletedTasks for s in stages if s)


def test_cached_search_is_right_sized_in_the_engine_session(spark, tmp_path):
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    ex = _engine(spark, tmp_path).executor
    view = ex.bucket_dataframe(BUCKET)
    # AQE sized the cached view by its bytes, not by shuffle.partitions
    assert view.rdd.getNumPartitions() == 1

    sc = spark.sparkContext
    group = "engine-session-cached-search"
    sc.setJobGroup(group, "cached search")
    try:
        rows = ex.execute(
            MetadataQuery(BUCKET, "userMd.`x-amz-meta-n` = '1'", None, 5)
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["key"] for r in rows] == ["k001", "k006", "k011", "k016", "k021"]
    jobs, tasks = _jobs_and_tasks(sc, group)
    assert jobs == 1 and tasks <= 2, (jobs, tasks)
    # the caller's session keeps Spark's frozen cached partitioning
    assert spark.conf.get(CAN_CHANGE) == "false"
    assert ex.spark is not spark and ex.spark.conf.get(CAN_CHANGE) == "true"


def test_engine_session_starts_from_the_callers_runtime_conf(spark, tmp_path):
    """A runtime SQL conf the caller set before build_engine (here the
    session time zone) applies to the engine's searches."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        ex = _engine(spark, tmp_path, keys=1).executor
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    # last-modified is 2026-01-01T00:00Z: hour 16 of Dec 31 in Los Angeles
    q = MetadataQuery(BUCKET, "hour(`last-modified`) = 16")
    assert [r["key"] for r in ex.execute(q).collect()] == ["k000"]


def test_searching_a_missing_bucket_keeps_the_active_session(spark, tmp_path):
    """The empty frame for a missing tier must not make the engine's
    session the process-wide active one (every bucket looks like this
    after a purge)."""
    before = SparkSession.getActiveSession()
    engine = build_engine(
        spark, CluesoSparkConfig(store_root=str(tmp_path / "store"))
    )
    assert engine.executor.execute(MetadataQuery("nosuchbucket")).collect() == []
    assert SparkSession.getActiveSession() is before
