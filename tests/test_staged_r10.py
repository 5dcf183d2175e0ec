"""Parity gate for the round-9-staged, round-10-PROMOTED operators
(plans/staged_r10.py).

Runs the exact driver comparison -- row count + schema + order-
insensitive value hash against the DuckDB oracle -- at sf0.001 and
sf0.01. Each query was proven green here BEFORE round 10 promoted it
into the registry and the driver's verification window (the same
life-cycle staged_r6 / staged_r8 / staged_r9 ran through); the gate
stays as the tier's regression net post-promotion.
"""

from __future__ import annotations

import pytest

from clueso_spark.plans.parity import compare, duckdb_connect
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r10")

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
    """No staged plan contains a CartesianProduct, and the only
    BroadcastNestedLoopJoins are the sanctioned tiny broadcasts."""
    sanctioned_bnlj = {
        # 1-row totals / boundary relations broadcast against small
        # histogram-sized frames (never the corpus):
        "agg_welch_ttest",  # 1x1 power-sum cross join
        "agg_ks_two_sample",  # 1-row totals + 1-row max broadcast
        "agg_chi2_independence",  # 1-row grand-total broadcast
        "ev_funnel_time_percentiles",  # 1-row total broadcast
        "ev_lorenz_power_users",  # 1-row totals + 10-row decile ladder
    }
    for name, cq in sorted(QUERIES.items()):
        plan = cq.spark(spark, SF_DIRS[1])._jdf.queryExecution().toString()
        assert "CartesianProduct" not in plan, (name, plan)
        if name not in sanctioned_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_promotion_is_live_and_benched():
    """Round 10 executed the promotion (the inverse of round 9's
    test_staging_is_not_live honesty guard): every formerly-staged name
    is in the live registry and perf-tracked in bench.py HEADLINE.
    The round-10-specific window-headship requirement retired when the
    driver verified all 15 (CORRECTNESS_r10.json, 15/15 green); from
    round 11 on they rotate like any other green query, and their
    window placement is governed by tests/test_entry.py's freshness
    invariants."""
    import bench

    from clueso_spark.plans.catalog import all_queries

    live = all_queries()
    missing = sorted(set(QUERIES) - set(live))
    assert missing == [], missing
    unbenched = sorted(set(QUERIES) - set(bench.HEADLINE))
    assert unbenched == [], unbenched


def test_lateral_join_is_keyed_not_rescan(spark):
    """The lateral correlated LIMIT subquery must decorrelate to a
    keyed rank (window / join), never a per-outer-row re-scan or a
    nested-loop over the fact table."""
    plan = (
        QUERIES["join_lateral_top2_per_order"]
        .spark(spark, SF_DIRS[0])
        ._jdf.queryExecution()
        .toString()
    )
    assert "row_number" in plan or "rank" in plan.lower()
    assert "CartesianProduct" not in plan


def test_sessionize_windows_are_user_partitioned(spark):
    """Bounce-rate sessionization must keep every window user-keyed --
    a global window would serialize the corpus through one task."""
    import re

    plan = (
        QUERIES["ev_bounce_rate_sessions"]
        .spark(spark, SF_DIRS[0])
        ._jdf.queryExecution()
        .toString()
    )
    for frag in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "user_id" in frag, frag
