"""Parity gate for the round-12 STAGED operators (plans/staged_r13.py).

Runs the exact driver comparison -- row count + schema + order-
insensitive value hash against the DuckDB oracle -- at sf0.001 and
sf0.01, so each staged query is proven green BEFORE round 13 promotes
it into the registry and the driver's verification window (the same
life-cycle staged_r6 .. staged_r12 all ran through). The tier is sized
to round 13's FOUR free window slots (50 - 5 deferred r12 promotions
- 41 r8 leftovers), so promoting it creates no new deferral debt.
"""

from __future__ import annotations

import pytest

from clueso_spark.plans.parity import compare, duckdb_connect
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r13")

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def test_tier_was_sized_to_round13_capacity():
    """The round-12 edition of this test pinned the tier to round
    13's free window capacity BEFORE promotion; the round-13 edition
    reconciled the window arithmetic. Round-14 edition (the window
    has rotated past this tier): the sizing claim is DISCHARGED --
    every staged name carries a driver green from round 13 onward,
    which is what correct sizing was for; none was deferred. (>= 13,
    not == 13: a later refresh of these names must not fail a
    terminal claim.)"""
    from tests.test_entry import _latest_green_rounds

    latest, _ = _latest_green_rounds()
    not_green = sorted(n for n in QUERIES if latest.get(n, 0) < 13)
    assert not_green == [], not_green


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
    """No staged plan contains a CartesianProduct; the only
    BroadcastNestedLoopJoins are the sanctioned tiny broadcasts."""
    sanctioned_bnlj = {
        # 5 probes x ~10-cell centroid relation (both sides bounded;
        # the corpus is touched by broadcast-HASH joins on cell/tenant)
        "sim_filtered_ann",
    }
    for name, cq in sorted(QUERIES.items()):
        plan = cq.spark(spark, SF_DIRS[1])._jdf.queryExecution().toString()
        assert "CartesianProduct" not in plan, (name, plan)
        if name not in sanctioned_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_promotion_is_live_and_heads_the_window():
    """Round 13 executed the promotion (the inverse of round 12's
    test_staging_is_not_live honesty guard): every formerly-staged
    name is in the live registry and perf-tracked in bench.py
    HEADLINE. Round-14 edition (the window has rotated past this
    tier): no staged name may be STRANDED -- each needs a committed
    driver green (all four got theirs in round 13) or a current
    window slot. The round-6 lesson: never claim that inclusion
    before it exists."""
    import bench

    from tests.test_entry import _latest_green_rounds

    from clueso_spark.plans.catalog import all_queries

    live = all_queries()
    missing = sorted(set(QUERIES) - set(live))
    assert missing == [], missing
    unbenched = sorted(set(QUERIES) - set(bench.HEADLINE))
    assert unbenched == [], unbenched
    names = list(live)
    window = set(names[:50])
    latest, _ = _latest_green_rounds()
    stranded = sorted(set(QUERIES) - window - set(latest))
    assert stranded == [], stranded


def test_filtered_ann_prefilter_never_trails_postfilter(spark):
    """Law: with identical probed cells and an identical truth set,
    the prefilter arm ranks over a SUPERSET of what survives the
    postfilter cut, so per probe pre_hits >= post_hits and
    n_pre >= n_post_survivors. The recall gap the op exists to
    measure must point the right way at both oracle SFs."""
    for sf_dir in SF_DIRS:
        rows = QUERIES["sim_filtered_ann"].spark(spark, sf_dir).collect()
        assert rows, sf_dir
        for r in rows:
            assert r["pre_hits"] >= r["post_hits"], r
            assert r["n_pre"] >= r["n_post_survivors"], r
            assert r["n_truth"] <= 5, r
            assert r["pre_hits"] <= r["n_pre"], r


def test_cdc_store_delta_gc_really_fires(spark):
    """The delta path must actually EXERCISE the maintenance: at
    sf0.01 the deleted quintile owns chunks nothing else references,
    so the delta-applied store must be strictly smaller than the OLD
    store + inserts would be without GC -- i.e. some chunk present in
    the old store is absent from the output."""
    from clueso_spark.plans.staged_r11 import cdc_chunk_frame
    from clueso_spark.plans.staged_r12 import _md5_mod
    from pyspark.sql import functions as F

    ch = cdc_chunk_frame(spark, SF_DIRS[1]).withColumn(
        "q", _md5_mod(F.col("doc_id").cast("string"), 5)
    )
    old_chunks = {
        r["chunk_hash"]
        for r in ch.where(F.col("q") != 0)
        .select("chunk_hash")
        .distinct()
        .collect()
    }
    out_chunks = {
        r["chunk_hash"]
        for r in QUERIES["mm_cdc_store_delta"]
        .spark(spark, SF_DIRS[1])
        .select("chunk_hash")
        .collect()
    }
    gced = old_chunks - out_chunks
    assert gced, "no chunk was ever garbage-collected -- delta untested"
    inserted = out_chunks - old_chunks
    assert inserted, "no chunk was ever inserted -- delta untested"


def test_retention_matrix_offset_zero_is_cohort_size(spark):
    """Self-consistency law: every user is active in their own cohort
    week, so the offset-0 row of each cohort must equal the cohort
    size exactly (retention_x10000 == 10000)."""
    rows = (
        QUERIES["ev_retention_cohort_matrix"]
        .spark(spark, SF_DIRS[1])
        .collect()
    )
    zero = [r for r in rows if r["week_offset"] == 0]
    assert zero
    for r in zero:
        assert r["n_active"] == r["cohort_size"], r
        assert r["retention_x10000"] == 10000, r


def _events_table(tmp_path, rows):
    import datetime

    from tests.conftest import write_events_parquet

    base = datetime.datetime(2026, 1, 5)
    return write_events_parquet(
        tmp_path,
        [
            {
                "event_id": eid,
                "ts": base + datetime.timedelta(days=day, minutes=eid),
                "user_id": uid,
                "event_type": "click",
                "value": val,
                "props": "{}",
            }
            for eid, uid, day, val in rows
        ],
    )


def test_cusum_immediate_alarm_and_reset(spark, tmp_path):
    """Boundary semantics planted directly: one event K+H cents above
    zero alarms IMMEDIATELY (S_1 = H + eps > H); an exactly-at-H event
    does NOT (strict >); and a negative excursion clamps at 0 rather
    than banking negative credit (the max(0, .) in the recurrence)."""
    from clueso_spark.plans.staged_r13 import (
        _CUSUM_H_CENTS,
        _CUSUM_K_CENTS,
    )

    big = (_CUSUM_K_CENTS + _CUSUM_H_CENTS + 1) / 100.0  # S = H+1 > H
    at_h = (_CUSUM_K_CENTS + _CUSUM_H_CENTS) / 100.0  # S = H, no alarm
    sf = _events_table(
        tmp_path,
        [
            (1, 7, 0, big),  # user 7: immediate alarm
            (2, 8, 0, at_h),  # user 8: S == H exactly -> no alarm
            # user 9: deep negative excursion, then the same at_h event;
            # clamping means S = H (no alarm), NOT H - deficit
            (3, 9, 0, 0.0),
            (4, 9, 1, at_h),
        ],
    )
    got = {
        r["user_id"]: (r["n_alarms"], r["max_cusum"], r["first_alarm_event_id"])
        for r in QUERIES["window_cusum_changepoint"].spark(spark, sf).collect()
    }
    assert got[7] == (1, _CUSUM_H_CENTS + 1, 1)
    assert got[8] == (0, _CUSUM_H_CENTS, -1)
    assert got[9] == (0, _CUSUM_H_CENTS, -1)


def test_cusum_first_alarm_is_processing_order_not_min_id(spark, tmp_path):
    """Code-review counter-example, pinned: event ids are NOT
    guaranteed time-ordered, and 'first alarm' means first in the
    (ts, event_id) order the CUSUM statistic itself follows. Plant a
    user whose earlier-in-time alarming event has the LARGER id: the
    op must report id 9 (day 0), not min(9, 3) = 3 (day 1)."""
    from clueso_spark.plans.staged_r13 import (
        _CUSUM_H_CENTS,
        _CUSUM_K_CENTS,
    )

    big = (_CUSUM_K_CENTS + _CUSUM_H_CENTS + 1) / 100.0
    sf = _events_table(tmp_path, [(9, 5, 0, big), (3, 5, 1, big)])
    [row] = QUERIES["window_cusum_changepoint"].spark(spark, sf).collect()
    assert row["n_alarms"] == 2
    assert row["first_alarm_event_id"] == 9, row


def test_retention_single_week_user(spark, tmp_path):
    """A user active in exactly one week contributes only the offset-0
    cell; a user active in weeks (w, w+2) skips offset 1 -- the matrix
    is sparse, not gap-filled."""
    sf = _events_table(
        tmp_path,
        [
            (1, 1, 0, 1.0),  # user 1: week 0 only
            (2, 2, 0, 1.0),  # user 2: weeks 0 and 2
            (3, 2, 14, 1.0),
        ],
    )
    rows = QUERIES["ev_retention_cohort_matrix"].spark(spark, sf).collect()
    got = {
        (r["week_offset"]): (r["n_active"], r["cohort_size"])
        for r in rows
    }
    assert set(got) == {0, 2}
    assert got[0] == (2, 2)
    assert got[2] == (1, 2)
