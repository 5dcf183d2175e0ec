"""Law tests for the staged round-11 tier (plans/staged_r11.py).

The parity gate proves Spark == DuckDB; these pin mathematical
invariants a shared mis-derivation could not fake: order statistics
bounded by their frame, translation equivariance, conservation laws
(sweep deltas sum to zero, funnel counts partition), monotonicity of
closures, and textbook identities.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from clueso_spark.plans.staged_r11 import (
    _EQUIDEPTH_K,
    _EWMA_TAPS,
    _EWMA_WEIGHTS,
)
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r11")

SF = "/root/testdata/sf0.001"


def _events_table(tmp_path, rows):
    from tests.conftest import write_events_parquet

    return write_events_parquet(tmp_path, rows)


def _ev(eid, uid, minute, etype, val):
    return {
        "event_id": eid,
        "ts": datetime.datetime(2024, 1, 1)
        + datetime.timedelta(minutes=minute),
        "user_id": uid,
        "event_type": etype,
        "value": val,
        "props": "{}",
    }


def test_pivot_row_sums_equal_plain_group_counts(spark):
    """Conservation: the pivoted quantity cells per linestatus must sum
    to the un-pivoted per-linestatus quantity total."""
    from pyspark.sql import functions as F

    from clueso_spark.sources.tables import load_table

    got = {
        r["l_linestatus"]: r["qty_a"] + r["qty_n"] + r["qty_r"]
        for r in QUERIES["agg_pivot_shipmode"].spark(spark, SF).collect()
    }
    want = {
        r["l_linestatus"]: r["t"]
        for r in load_table(spark, SF, "lineitem")
        .groupBy("l_linestatus")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("t"))
        .collect()
    }
    assert got == want


def test_rolling_median_bounded_and_translation_equivariant(
    spark, tmp_path
):
    """Order-statistic law: min*2 <= median_x2 <= max*2 within every
    frame (checked via global bounds per user); adding a constant to
    every value shifts median_x2 by exactly 2x that constant."""
    base = [
        _ev(i, i % 3, i, "click", float(i % 17) + 0.25) for i in range(60)
    ]
    shifted = [
        {**e, "value": e["value"] + 10.0, "event_id": e["event_id"]}
        for e in base
    ]
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    sf_a = _events_table(tmp_path / "a", base)
    sf_b = _events_table(tmp_path / "b", shifted)
    a = {
        r["event_id"]: r["median_x2_cents"]
        for r in QUERIES["window_rolling_median"].spark(spark, sf_a).collect()
    }
    b = {
        r["event_id"]: r["median_x2_cents"]
        for r in QUERIES["window_rolling_median"].spark(spark, sf_b).collect()
    }
    assert set(a) == set(b)
    for eid in a:
        assert b[eid] - a[eid] == 2 * 1000  # +10.00 -> +1000 cents, doubled
    lo, hi = 2 * 25, 2 * (16 * 100 + 25)
    assert all(lo <= v <= hi for v in a.values())


def test_ewma_constant_series_is_weight_sum(spark, tmp_path):
    """A constant series must smooth to cents * sum(weights) =
    cents * (8^taps - 7^taps) exactly, for every emitted row."""
    sf = _events_table(
        tmp_path, [_ev(i, 1, i, "click", 2.0) for i in range(12)]
    )
    rows = QUERIES["ev_ewma_smoothed"].spark(spark, sf).collect()
    assert len(rows) == 12 - (_EWMA_TAPS - 1)
    expect = 200 * (8**_EWMA_TAPS - 7**_EWMA_TAPS)
    assert sum(_EWMA_WEIGHTS) == 8**_EWMA_TAPS - 7**_EWMA_TAPS
    assert all(r["ewma_scaled"] == expect for r in rows)


def test_sweepline_conservation(spark):
    """Every opened interval closes, so the sweep's running count must
    return to zero after the last close day -- equivalently each
    reported active count equals opens-so-far minus closes-so-far and
    is strictly positive on reported (busiest) days."""
    rows = (
        QUERIES["ev_sweepline_active_intervals"].spark(spark, SF).collect()
    )
    assert len(rows) == 15
    assert all(r["active"] > 0 for r in rows)
    # the top-15 must be sorted by (active desc, day asc)
    key = [(-r["active"], r["day"]) for r in rows]
    assert key == sorted(key)


def test_equidepth_bucket_sizes_and_edges(spark):
    """ntile law: bucket sizes differ by at most 1, larger buckets
    first; value ranges are non-overlapping and ascending with bucket
    id; sizes sum to the relation count."""
    rows = sorted(
        QUERIES["agg_equidepth_histogram"].spark(spark, SF).collect(),
        key=lambda r: r["bucket"],
    )
    assert [r["bucket"] for r in rows] == list(
        range(1, _EQUIDEPTH_K + 1)
    )
    sizes = [r["n_orders"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert sizes == sorted(sizes, reverse=True)
    for a, b in zip(rows, rows[1:]):
        assert a["hi_cents"] <= b["lo_cents"]


def test_cumulative_distinct_is_monotone_and_totals(spark):
    """The running distinct count is nondecreasing and ends at the true
    distinct-user count; per-day increments are exactly n_new."""
    from pyspark.sql import functions as F

    from clueso_spark.sources.tables import load_table

    rows = sorted(
        QUERIES["ev_cumulative_distinct_users"].spark(spark, SF).collect(),
        key=lambda r: r["day"],
    )
    run = 0
    for r in rows:
        run += r["n_new"]
        assert r["cum_users"] == run
    total = (
        load_table(spark, SF, "events")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()[0]["n"]
    )
    assert rows[-1]["cum_users"] == total


def test_mann_whitney_swap_symmetry(spark, tmp_path):
    """Swapping the two samples swaps (n_a, u2_a) with (n_b, u2_b):
    build the same values twice with labels exchanged."""
    vals = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 5.0, 8.0]
    rows_a = [
        _ev(i, i, i, "click" if i % 3 else "view", v)
        for i, v in enumerate(vals)
    ]
    rows_b = [
        _ev(i, i, i, "view" if i % 3 else "click", v)
        for i, v in enumerate(vals)
    ]
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    ra = (
        QUERIES["agg_mann_whitney"]
        .spark(spark, _events_table(tmp_path / "a", rows_a))
        .collect()[0]
    )
    rb = (
        QUERIES["agg_mann_whitney"]
        .spark(spark, _events_table(tmp_path / "b", rows_b))
        .collect()[0]
    )
    assert (ra["n_a"], ra["n_b"]) == (rb["n_b"], rb["n_a"])
    assert (ra["u2_a"], ra["u2_b"]) == (rb["u2_b"], rb["u2_a"])
    assert ra["identity_resid"] == rb["identity_resid"] == 0


def test_shortest_paths_closure_is_monotone(spark):
    """Reached-set growth law: n_reached is nondecreasing across
    rounds, and round 0's sum_dist is 0 (seeds at distance zero)."""
    rows = sorted(
        QUERIES["graph_shortest_paths"].spark(spark, SF).collect(),
        key=lambda r: r["k"],
    )
    assert rows[0]["sum_dist"] == 0
    for a, b in zip(rows, rows[1:]):
        assert b["n_reached"] >= a["n_reached"]


def test_edit_distance_finds_planted_near_dup(spark, tmp_path):
    """A planted single-edit copy must surface with its exact distance;
    an unrelated document (different prefix block) must not pair."""
    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "the quick brown fox jumps over the lazy cat again and again",
        "zzz completely different document with its own prefix zzz",
    ]
    rows = [
        {
            "doc_id": i,
            "text": t,
            "lang": "en",
            "source": "s",
            "n_chars": len(t),
        }
        for i, t in enumerate(texts)
    ]
    pq.write_table(
        pa.Table.from_pylist(rows), str(tmp_path / "documents.parquet")
    )
    got = QUERIES["dedup_edit_distance"].spark(spark, str(tmp_path)).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["edit_distance"] for r in got}
    assert pairs == {(0, 1): 3}  # dog -> cat: 3 substitutions
