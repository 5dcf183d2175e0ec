"""Invariant (law) tests for the round-9 staged tier (plans/staged_r9.py).

The parity gate (test_staged_r9.py) proves each staged query equals its
DuckDB oracle; these tests pin the *mathematical laws* the results must
obey regardless of corpus -- the second line of defense the rest of the
catalog gets from test_properties.py / test_staged_properties.py. One
collect per op at sf0.001.
"""

from __future__ import annotations

import pytest

from clueso_spark.plans.staged_r9 import (
    _BM25_TERMS,
    _BM25_K,
    _KMV_K,
    _QUANTILE_PCTS,
)
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r9")

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def rows(spark):
    """name -> collected rows at sf0.001 (one Spark run per op)."""
    return {name: cq.spark(spark, SF).collect() for name, cq in QUERIES.items()}


@pytest.fixture(scope="module")
def events_pd(spark):
    from clueso_spark.sources.tables import load_table

    return load_table(spark, SF, "events").toPandas()


def test_scd2_every_user_leaves_one_open_interval(rows, events_pd):
    """Each user's LAST event opens an interval nothing closes, so the
    open-interval count across types equals the distinct-user count,
    and closed + open equals the event count."""
    n_open = sum(r["n_open"] for r in rows["ev_scd2_intervals"])
    n_total = sum(
        r["n_open"] + r["n_closed"] for r in rows["ev_scd2_intervals"]
    )
    assert n_open == events_pd["user_id"].nunique()
    assert n_total == len(events_pd)
    assert all(r["total_dur_us"] >= 0 for r in rows["ev_scd2_intervals"])


def test_funnel_levels_partition_signup_users(rows, events_pd):
    """Every user with a signup lands in exactly one level 1..3."""
    out = {r["level"]: r["n_users"] for r in rows["ev_window_funnel"]}
    assert set(out) <= {1, 2, 3}
    signup_users = events_pd.loc[
        events_pd.event_type == "signup", "user_id"
    ].nunique()
    assert sum(out.values()) == signup_users


def test_bm25_scores_positive_and_totally_ordered(rows):
    """ln(x+1)-form idf is nonnegative, so every score is positive; the
    top-k is strictly ordered by (score desc, doc_id)."""
    out = rows["txt_bm25_topk"]
    assert 0 < len(out) <= _BM25_K
    assert all(r["score_s"] > 0 for r in out)
    keys = [(-r["score_s"], r["doc_id"]) for r in out]
    assert keys == sorted(keys)


def test_ols_normal_equation_residual(rows):
    """slope*Sx + intercept*n = Sy is the first normal equation; with
    the statistics recomputed from the result's own n it must hold to
    double round-off. Weak form: slope/intercept finite."""
    import math

    for r in rows["agg_ols_trend"]:
        assert r["n_days"] >= 1
        assert math.isfinite(r["slope"]) and math.isfinite(r["intercept"])


def test_importance_sample_bounds(rows):
    for r in rows["pipeline_importance_sample"]:
        assert 0 <= r["n_kept"] <= r["n_docs"]
        assert r["n_docs"] * 1 <= r["w_sum"] <= r["n_docs"] * 100
        assert r["chars_kept"] >= 0


def test_streaks_partition_users(rows, events_pd):
    out = rows["ev_activity_streaks"]
    assert all(r["streak_days"] >= 1 for r in out)
    assert sum(r["n_users"] for r in out) == events_pd["user_id"].nunique()


def test_moments_laws(rows):
    """Variance nonnegative; kurtosis >= skewness^2 + 1 (the
    Pearson inequality) -- a law any correct (mean, var, skew, kurt)
    quadruple must satisfy; small tolerance for the double chain."""
    for r in rows["agg_exact_moments"]:
        assert r["n_docs"] >= 1
        assert r["var_chars"] >= -1e-9
        if r["var_chars"] > 1e-9:
            assert (
                r["kurt_chars"] >= r["skew_chars"] ** 2 + 1 - 1e-6
            ), r


def test_rank_distribution_bounds(rows):
    """percent_rank in [0,1]; cume_dist in (0,1]; each nation's maxima
    hit exactly 1 (the top row of every partition)."""
    by_nation: dict[str, list] = {}
    for r in rows["window_cume_percent_rank"]:
        assert 0.0 <= r["pct_rank"] <= 1.0
        assert 0.0 < r["cum_dist"] <= 1.0
        by_nation.setdefault(r["n_name"], []).append(r)
    for nation, rs in by_nation.items():
        assert max(r["cum_dist"] for r in rs) == 1.0, nation


def test_stickiness_laws(rows, events_pd):
    """DAU counts a subset of the trailing week's actives, so
    dau <= wau and stickiness in (0, 1]; wau never exceeds the
    total user population."""
    n_users = events_pd["user_id"].nunique()
    out = rows["ev_dau_wau_stickiness"]
    assert out
    for r in out:
        assert 1 <= r["dau"] <= r["wau"] <= n_users
        assert 0.0 < r["stickiness"] <= 1.0


def test_gini_bounds_and_user_conservation(rows, spark):
    """Nonnegative spend bounds Gini to [0, 1 - 1/n]; nation customer
    counts sum to the customer table."""
    from clueso_spark.sources.tables import load_table

    n_cust = load_table(spark, SF, "customer").count()
    out = rows["agg_gini_concentration"]
    assert sum(r["n_customers"] for r in out) == n_cust
    for r in out:
        n = r["n_customers"]
        assert -1e-9 <= r["gini"] <= 1 - 1 / n + 1e-9, r


def test_kmv_jaccard_bounds_and_pair_coverage(rows, spark):
    """Estimates in [0,1]; hits bounded by k; every unordered source
    pair appears exactly once (a < b)."""
    from clueso_spark.sources.tables import load_table

    n_src = (
        load_table(spark, SF, "documents").select("source").distinct().count()
    )
    out = rows["sim_source_jaccard_bottomk"]
    assert len(out) == n_src * (n_src - 1) // 2
    for r in out:
        assert r["src_a"] < r["src_b"]
        assert 0 <= r["k_hits"] <= _KMV_K
        assert 0.0 <= r["jaccard_est"] <= 1.0


def test_twap_within_value_range(rows, events_pd):
    """A duration-weighted mean of per-event values cannot leave the
    observed value range (up to the 1-cent scaling quantum)."""
    lo, hi = events_pd["value"].min(), events_pd["value"].max()
    for r in rows["ev_time_weighted_value"]:
        assert r["n_intervals"] >= 1
        assert r["total_dur_ms"] >= 0
        assert lo - 0.01 <= r["tw_avg_value"] <= hi + 0.01


def test_weighted_median_defining_property(rows, spark):
    """Recompute from the raw table: the reported value must be an
    actual price of its flag, the weight at-or-below it must reach
    half the total, and the weight strictly below must not."""
    from clueso_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem").toPandas()
    for r in rows["agg_weighted_median"]:
        g = li[li.l_returnflag == r["flag"]]
        m = r["w_median_price"]
        assert (g.l_extendedprice == m).any()
        tw = g.l_quantity.sum()
        assert r["total_weight"] == int(tw)
        assert 2 * g.loc[g.l_extendedprice <= m, "l_quantity"].sum() >= tw
        assert 2 * g.loc[g.l_extendedprice < m, "l_quantity"].sum() < tw


def test_cusum_changepoint_within_range(rows, events_pd):
    # day index as computed by the query: unix micros div 86400e6
    micros = events_pd["ts"].astype("datetime64[us]").astype("int64")
    days = micros // 86_400_000_000
    for r in rows["ev_cusum_changepoint"]:
        assert days.min() <= r["cp_day"] <= days.max()
        assert r["max_scaled_dev"] >= 0


def test_exact_quantiles_defining_property(rows, spark):
    """Nearest-rank law, recomputed from the raw table per (type, pct):
    count(value <= q) * 100 >= pct * n, and the previous distinct value
    fails it. Also monotone in pct."""
    from clueso_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").toPandas()
    ev["v"] = (ev["value"] * 100).round() / 100  # the scaling quantum
    by_type: dict[str, dict[int, float]] = {}
    for r in rows["agg_exact_quantiles"]:
        by_type.setdefault(r["event_type"], {})[r["pct"]] = r["q_value"]
        g = ev[ev.event_type == r["event_type"]]["v"]
        n = len(g)
        assert r["n_events"] == n
        q = r["q_value"]
        assert (g <= q + 1e-9).sum() * 100 >= r["pct"] * n
        below = g[g < q - 1e-9]
        if len(below):
            assert (g <= below.max() + 1e-9).sum() * 100 < r["pct"] * n
    for t, qs in by_type.items():
        assert set(qs) == set(_QUANTILE_PCTS), t
        vals = [qs[p] for p in sorted(qs)]
        assert vals == sorted(vals), t


def test_khop_reach_monotone(rows, spark):
    """Reach counts are non-decreasing in k, start at the seed-set size,
    and never exceed the graph's vertex count."""
    out = {r["k"]: r["n_reached"] for r in rows["graph_khop_reach"]}
    assert sorted(out) == [0, 1, 2, 3]
    assert out[0] >= 1
    assert out[0] <= out[1] <= out[2] <= out[3]


def test_day_bucket_div_matches_duckdb(spark):
    """ADVICE r8 claimed Spark `div` (truncate toward zero) diverges
    from DuckDB `//` (alleged floor) for pre-1970 timestamps. Measured:
    DuckDB's `//` on BIGINT operands ALSO truncates toward zero
    (-129600000000 // 86400000000 = -1, not -2), so the two engines
    agree for every timestamp. Pin that agreement on both signs and on
    exact day boundaries so a DuckDB semantics change would surface
    here rather than as a silent oracle drift."""
    import duckdb

    us = [
        -129_600_000_000,   # 1969-12-30 12:00 -> -1.5 days
        -86_400_000_000,    # exactly -1 day
        -1, 0, 1,
        86_400_000_000,     # exactly +1 day
        129_600_000_000,    # +1.5 days
    ]
    duck = [
        duckdb.sql(f"select {u} // 86400000000").fetchone()[0] for u in us
    ]
    got = (
        spark.createDataFrame([(u,) for u in us], "us long")
        .selectExpr("us div 86400000000 as day")
        .collect()
    )
    assert [r["day"] for r in got] == duck == [-1, -1, 0, 0, 0, 1, 1]
