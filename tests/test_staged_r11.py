"""Parity gate for the round-10 STAGED operators (plans/staged_r11.py).

Runs the exact driver comparison -- row count + schema + order-
insensitive value hash against the DuckDB oracle -- at sf0.001 and
sf0.01, so each staged query is proven green BEFORE round 11 promotes
it into the registry and the driver's verification window (the same
life-cycle staged_r6 / staged_r8 / staged_r9 / staged_r10 all ran
through).
"""

from __future__ import annotations

import pytest

from clueso_spark.plans.parity import compare, duckdb_connect
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r11")

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
    """No staged plan contains a CartesianProduct; the only
    BroadcastNestedLoopJoins are the sanctioned tiny broadcasts; and no
    plan contains a single-partition global window (the ordered ops
    route through functions/ordered.py by construction)."""
    sanctioned_bnlj = {
        # 1-row total-count broadcast feeding the ntile rank arithmetic
        "agg_equidepth_histogram",
        # 1-row exact-count broadcast joined to the 1-row sketch summary
        "agg_kmv_distinct",
    }
    for name, cq in sorted(QUERIES.items()):
        plan = cq.spark(spark, SF_DIRS[1])._jdf.queryExecution().toString()
        assert "CartesianProduct" not in plan, (name, plan)
        if name not in sanctioned_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_promotion_is_live_and_benched():
    """Round 11 executed the promotion (the inverse of round 10's
    test_staging_is_not_live honesty guard): every formerly-staged name
    is in the live registry and perf-tracked in bench.py HEADLINE.
    The round-11-specific window-headship requirement retired when the
    driver verified all 15 (CORRECTNESS_r11.json, 15/15 green); from
    round 12 on they rotate like any other green query, and their
    window placement is governed by tests/test_entry.py's freshness
    invariants."""
    import bench

    from clueso_spark.plans.catalog import all_queries

    live = all_queries()
    missing = sorted(set(QUERIES) - set(live))
    assert missing == [], missing
    unbenched = sorted(set(QUERIES) - set(bench.HEADLINE))
    assert unbenched == [], unbenched


def test_no_global_single_partition_windows(spark):
    """The ordered staged ops (cumulative distinct, sweepline,
    equi-depth, Mann-Whitney prefix) must not plan a partition-less
    window over the relation -- that is the one-task 100 TB trap the
    ranged helpers exist to avoid. Spark logs 'WindowExec: No Partition
    Defined' for those; the physical plan shows a Window with an empty
    partition spec. User-keyed windows (rolling median, EWMA, paths)
    are exempt by construction."""
    for name in (
        "ev_cumulative_distinct_users",
        "ev_sweepline_active_intervals",
        "agg_equidepth_histogram",
        "agg_mann_whitney",
    ):
        plan = (
            QUERIES[name]
            .spark(spark, SF_DIRS[0])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for line in plan.splitlines():
            if "Window " in line or line.strip().startswith("Window"):
                # WindowExec prints: Window [exprs], [part], [order] --
                # an empty partition spec renders as ", [], ["
                assert ", [], [" not in line, (name, line)
