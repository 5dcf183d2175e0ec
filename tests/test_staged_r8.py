"""Parity gate for the round-7 STAGED operators (plans/staged_r8.py).

Runs the exact driver comparison -- row count + schema + order-
insensitive value hash against the DuckDB oracle -- at sf0.001 and
sf0.01, so each staged query is proven green BEFORE round 8 promotes it
into the registry and the driver's verification window (the same
life-cycle staged_r6 ran through rounds 5 -> 6).
"""

from __future__ import annotations

import pytest

from clueso_spark.plans.parity import compare, duckdb_connect
from clueso_spark.plans.staged_r8 import (
    upsert_latest,
    upsert_state_sink,
)
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r8")

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_staged_parity(spark, name, sf_dir):
    cq = QUERIES[name]
    df = cq.spark(spark, sf_dir)
    if cq.oracle_valid is not None and not cq.oracle_valid(sf_dir):
        assert df.count() >= 0
        return
    con = duckdb_connect(sf_dir)
    res = compare(name, df, cq.oracle, con)
    assert res.ok, (name, res.detail)


def test_staged_rows_nonempty(spark):
    """Every staged query returns at least one row at sf0.01 (the
    driver's smoke bar for registered queries)."""
    for name, cq in sorted(QUERIES.items()):
        assert cq.spark(spark, SF_DIRS[1]).count() > 0, name


def test_staged_plan_shapes(spark):
    """No staged plan contains an unsanctioned CartesianProduct (the
    all-pairs smell none of these ops should ever need)."""
    for name, cq in sorted(QUERIES.items()):
        if name == "st_foreach_batch_upsert":
            continue  # runs a stream at construction; shape pinned below
        plan = cq.spark(spark, SF_DIRS[1])._jdf.queryExecution().toString()
        assert "CartesianProduct" not in plan, (name, plan)


def test_domain_caps_plans_window_group_limit(spark):
    """The rank-filter branch of pipeline_domain_caps must compile to
    WindowGroupLimit (partial per-source top-CAP BEFORE the window
    exchange) -- the property its docstring claims at 100 TB scale."""
    cq = QUERIES["pipeline_domain_caps"]
    plan = cq.spark(spark, SF_DIRS[1])._jdf.queryExecution().toString()
    assert "WindowGroupLimit" in plan, plan


def test_epoch_shards_exactly_balanced(spark):
    """Round-robin over the global permutation gives shard sizes that
    differ by at most 1 (hash-mod sharding is only balanced in
    expectation -- this layout is balanced by construction)."""
    from pyspark.sql import functions as F

    df = QUERIES["pipeline_epoch_shuffle_shards"].spark(spark, SF_DIRS[1])
    sizes = [
        r["n"]
        for r in df.groupBy("shard").agg(F.count("*").alias("n")).collect()
    ]
    assert max(sizes) - min(sizes) <= 1, sizes


def test_bloom_prune_never_false_rejects(spark):
    """The Bloom pass-filter keeps every TRUE match: pruned lineitem
    joined to urgent orders has exactly the plain join's row count."""
    from pyspark.sql import functions as F

    from clueso_spark.sources.tables import load_table

    sf = SF_DIRS[1]
    li = load_table(spark, sf, "lineitem")
    urgent = (
        load_table(spark, sf, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    exact = li.join(
        urgent, li["l_orderkey"] == urgent["o_orderkey"]
    ).count()
    got = (
        QUERIES["join_bloom_pruned_revenue"]
        .spark(spark, sf)
        .agg(F.sum("n_items"))
        .collect()[0][0]
    )
    assert got == exact


def test_upsert_multi_batch_scenario(spark, tmp_path):
    """Three files drained one-per-trigger = three sequential merges;
    the final state equals the batch argmax over all events, including
    a key whose winner arrives in an EARLIER batch than a losing row
    (the upsert must not last-write-win on arrival order)."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    batches = [
        # (event_id, ts offset s, user_id, type, value)
        [(1, 0, 1, "view", 1.0), (2, 60, 2, "view", 2.0)],
        [(3, 120, 1, "purchase", 5.0), (4, 30, 2, "click", 9.9)],
        # user 2's winner is event 2 (t+60) from batch 0; event 5 is
        # OLDER (t+10) and must lose despite arriving last
        [(5, 10, 2, "error", 7.7), (6, 180, 3, "signup", 0.5)],
    ]
    src = tmp_path / "stream_src"
    src.mkdir()
    schema = (
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double"
    )
    frames = []
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [
                (eid, t0 + dt.timedelta(seconds=off), uid, et, v)
                for eid, off, uid, et, v in rows
            ],
            schema,
        )
        frames.append(df)
        df.coalesce(1).write.mode("overwrite").parquet(
            str(src / f"batch{i}.parquet")
        )
    state_root = str(tmp_path / "state")
    merge, versions = upsert_state_sink(state_root)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(versions) == 3  # one merge per file
    final = {
        r["user_id"]: (r["event_id"], r["event_type"], r["value"])
        for r in spark.read.parquet(versions[-1]).collect()
    }
    allev = frames[0]
    for f in frames[1:]:
        allev = allev.unionByName(f)
    expect = {
        r["user_id"]: (r["event_id"], r["event_type"], r["value"])
        for r in upsert_latest(allev).collect()
    }
    assert final == expect
    assert final[2][0] == 2  # older late row lost


def test_promotion_is_live_and_benched():
    """Round 8 executed the promotion (the inverse of round 7's
    test_staging_is_not_live honesty guard): every formerly-staged name
    is in the live registry and perf-tracked in bench.py HEADLINE --
    the round-6 lesson: never claim that inclusion before it exists.
    The round-8-specific window-headship requirement retired when the
    driver verified all 13 (CORRECTNESS_r08.json, 13/13 green); from
    round 9 on they rotate like any other green query, and their window
    placement is governed by tests/test_entry.py's freshness
    invariants."""
    import bench

    from clueso_spark.plans.catalog import all_queries

    live = all_queries()
    missing = sorted(set(QUERIES) - set(live))
    assert missing == [], missing
    unbenched = sorted(set(QUERIES) - set(bench.HEADLINE))
    assert unbenched == [], unbenched
