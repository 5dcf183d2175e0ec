"""Parity gate for the round-8 STAGED operators (plans/staged_r9.py).

Runs the exact driver comparison -- row count + schema + order-
insensitive value hash against the DuckDB oracle -- at sf0.001 and
sf0.01, so each staged query is proven green BEFORE round 9 promotes it
into the registry and the driver's verification window (the same
life-cycle staged_r6 ran through rounds 5 -> 6 and staged_r8 through
rounds 7 -> 8).
"""

from __future__ import annotations

import pytest

from clueso_spark.plans.parity import compare, duckdb_connect
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r9")

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
    BroadcastNestedLoopJoins are the sanctioned 1-row scalar
    broadcasts (BM25's corpus totals)."""
    sanctioned_bnlj = {
        "txt_bm25_topk",  # 1-row totals broadcast x2
        # 20x20 source-pair inequality join (both sides ~|sources| rows;
        # the corpus-sized signature joins are broadcast equi-joins)
        "sim_source_jaccard_bottomk",
    }
    for name, cq in sorted(QUERIES.items()):
        plan = cq.spark(spark, SF_DIRS[1])._jdf.queryExecution().toString()
        assert "CartesianProduct" not in plan, (name, plan)
        if name not in sanctioned_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_streaks_windows_are_user_partitioned(spark):
    """ev_activity_streaks' gaps-and-islands row_number must be
    partitioned by user_id -- a global window here would serialize the
    whole corpus through one task at 100 TB."""
    plan = (
        QUERIES["ev_activity_streaks"]
        .spark(spark, SF_DIRS[1])
        ._jdf.queryExecution()
        .toString()
    )
    assert "row_number" in plan
    import re

    for frag in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "user_id" in frag, frag


def test_promotion_is_live_and_benched():
    """Round 9 executed the promotion (the inverse of round 8's
    test_staging_is_not_live honesty guard): every formerly-staged name
    is in the live registry and perf-tracked in bench.py HEADLINE.
    The round-9-specific window-headship requirement retired when the
    driver verified all 17 (CORRECTNESS_r09.json, 17/17 green); from
    round 10 on they rotate like any other green query, and their
    window placement is governed by tests/test_entry.py's freshness
    invariants."""
    import bench

    from clueso_spark.plans.catalog import all_queries

    live = all_queries()
    missing = sorted(set(QUERIES) - set(live))
    assert missing == [], missing
    unbenched = sorted(set(QUERIES) - set(bench.HEADLINE))
    assert unbenched == [], unbenched


def _write_sf(tmp_path, docs=(), events=(), orders=(), customers=(),
              nations=(), lineitems=()):
    """Minimal sf directory with exactly the tables/columns the staged
    r9 tier touches, as single parquet FILES (load_table sniffs footers
    driver-side). Empty tuples write empty tables with real schemas."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path / "sf_edge")
    import os

    os.makedirs(sf, exist_ok=True)

    def tbl(rows, schema):
        cols = {
            name: pa.array([r[i] for r in rows], typ)
            for i, (name, typ) in enumerate(schema)
        }
        return pa.table(cols)

    pq.write_table(
        tbl(docs, [("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]),
        f"{sf}/documents.parquet",
    )
    pq.write_table(
        tbl(events, [("event_id", pa.int64()),
                     ("ts", pa.timestamp("us")),
                     ("user_id", pa.int64()),
                     ("event_type", pa.string()),
                     ("value", pa.float64()),
                     ("props", pa.string())]),
        f"{sf}/events.parquet",
    )
    pq.write_table(
        tbl(orders, [("o_orderkey", pa.int64()),
                     ("o_custkey", pa.int64()),
                     ("o_totalprice", pa.float64()),
                     ("o_orderdate", pa.timestamp("us")),
                     ("o_orderpriority", pa.string())]),
        f"{sf}/orders.parquet",
    )
    pq.write_table(
        tbl(customers, [("c_custkey", pa.int64()),
                        ("c_nationkey", pa.int32()),
                        ("c_acctbal", pa.float64()),
                        ("c_mktsegment", pa.string())]),
        f"{sf}/customer.parquet",
    )
    pq.write_table(
        tbl(nations, [("n_nationkey", pa.int32()),
                      ("n_name", pa.string())]),
        f"{sf}/nation.parquet",
    )
    pq.write_table(
        tbl(lineitems, [("l_returnflag", pa.string()),
                        ("l_extendedprice", pa.float64()),
                        ("l_quantity", pa.float64()),
                        ("l_orderkey", pa.int64()),
                        ("l_partkey", pa.int64())]),
        f"{sf}/lineitem.parquet",
    )
    return sf


def test_staged_empty_inputs_do_not_crash(spark, tmp_path):
    """Empty tables: every staged query returns a list (possibly empty),
    never raises -- div-by-zero and null leads must null out."""
    sf = _write_sf(tmp_path)
    for name, cq in sorted(QUERIES.items()):
        rows = cq.spark(spark, sf).collect()
        assert isinstance(rows, list), name


def test_weighted_median_lower_median_semantics(spark, tmp_path):
    """Lower weighted median: weights [2,1,1] over prices [1,2,3] put
    the half-total boundary exactly ON price 1.0 (2*cw == tw), which
    the lower median includes."""
    sf = _write_sf(
        tmp_path,
        lineitems=[("A", 1.0, 2.0, 1, 10), ("A", 2.0, 1.0, 1, 11),
                   ("A", 3.0, 1.0, 2, 10), ("B", 5.0, 1.0, 2, 11)],
    )
    rows = {r["flag"]: r for r in QUERIES["agg_weighted_median"]
            .spark(spark, sf).collect()}
    assert rows["A"]["w_median_price"] == 1.0
    assert rows["A"]["total_weight"] == 4
    assert rows["B"]["w_median_price"] == 5.0


def test_jaccard_bottomk_identical_and_disjoint_sources(spark, tmp_path):
    """KMV estimator exactness at the extremes: identical token sets
    estimate 1.0, disjoint sets estimate 0.0 (every union bottom-k
    member is in both / neither signature)."""
    docs = [
        (1, "alpha beta gamma", "en", "s1", 10),
        (2, "alpha beta gamma", "en", "s2", 10),
        (3, "delta epsilon zeta", "en", "s3", 10),
    ]
    sf = _write_sf(tmp_path, docs=docs)
    out = {(r["src_a"], r["src_b"]): r["jaccard_est"]
           for r in QUERIES["sim_source_jaccard_bottomk"]
           .spark(spark, sf).collect()}
    assert out[("s1", "s2")] == 1.0
    assert out[("s1", "s3")] == 0.0
    assert out[("s2", "s3")] == 0.0


def test_cusum_constant_series_flags_first_day(spark, tmp_path):
    """A flat daily series has zero deviation everywhere; the change
    point must resolve to the EARLIEST day (tie rule), max_dev 0."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    events = [
        (i * 10 + d, base + dt.timedelta(days=d), 1, "click", 1.0, "{}")
        for d in range(3) for i in range(5)  # 5 events/day, 3 days
    ]
    sf = _write_sf(tmp_path, events=events)
    [row] = QUERIES["ev_cusum_changepoint"].spark(spark, sf).collect()
    assert row["event_type"] == "click"
    assert row["max_scaled_dev"] == 0
    assert row["cp_day"] == (base - dt.datetime(1970, 1, 1)).days


def test_stickiness_single_user_single_day(spark, tmp_path):
    """One user active one day: DAU = WAU = 1 on that day, stickiness
    exactly 1.0 (the trailing window has nothing else to count)."""
    import datetime as dt

    sf = _write_sf(
        tmp_path,
        events=[(1, dt.datetime(2024, 1, 5), 7, "view", 1.0, "{}")],
    )
    [row] = QUERIES["ev_dau_wau_stickiness"].spark(spark, sf).collect()
    assert (row["dau"], row["wau"], row["stickiness"]) == (1, 1, 1.0)


def test_window_funnel_levels(spark, tmp_path):
    """Three users: full signup->click->purchase inside 7 days (level
    3), signup+click only (level 2), signup with the click outside the
    window (level 1)."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    d = dt.timedelta
    events = [
        # user 1: full funnel inside the window
        (1, b, 1, "signup", 0.0, "{}"),
        (2, b + d(days=1), 1, "click", 0.0, "{}"),
        (3, b + d(days=2), 1, "purchase", 0.0, "{}"),
        # user 2: click but no purchase
        (4, b, 2, "signup", 0.0, "{}"),
        (5, b + d(days=1), 2, "click", 0.0, "{}"),
        # user 3: click arrives after the 7-day window
        (6, b, 3, "signup", 0.0, "{}"),
        (7, b + d(days=8), 3, "click", 0.0, "{}"),
    ]
    sf = _write_sf(tmp_path, events=events)
    out = {r["level"]: r["n_users"]
           for r in QUERIES["ev_window_funnel"].spark(spark, sf).collect()}
    assert out == {3: 1, 2: 1, 1: 1}


def test_exact_quantiles_nearest_rank(spark, tmp_path):
    """Ten distinct values 1..10, one event each: nearest-rank gives
    p25 -> 3 (cum 3 >= 2.5), p50 -> 5, p90 -> 9, p99 -> 10."""
    import datetime as dt

    events = [
        (i, dt.datetime(2024, 1, 1, i), 1, "view", float(i), "{}")
        for i in range(1, 11)
    ]
    sf = _write_sf(tmp_path, events=events)
    out = {r["pct"]: r["q_value"]
           for r in QUERIES["agg_exact_quantiles"].spark(spark, sf).collect()}
    assert out == {25: 3.0, 50: 5.0, 90: 9.0, 99: 10.0}


def test_funnel_scans_push_their_stage_filters(spark):
    """The funnel reads events once per stage ON PURPOSE (4 scans in
    the audit): the claim that this beats pinning the corpus projection
    rests on each scan pushing ITS OWN event-type equality into the
    parquet reader, so every stage reads only its type's row groups.
    Pin that: the formatted plan must show one pushed EqualTo per
    funnel stage."""
    import re

    df = QUERIES["ev_window_funnel"].spark(spark, SF_DIRS[0])
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    for stage in ("signup", "click", "purchase"):
        assert f"EqualTo(event_type,{stage})" in pushed, (stage, pushed)
