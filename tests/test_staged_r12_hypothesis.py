"""Hypothesis-randomized third opinions for the staged r12 event ops.

The fixed-corpus third-opinion tests (test_third_opinion_r12) verify
one structure; these generate ADVERSARIAL ones -- colliding
timestamps force the (ts, tag, event_id) tie-breaks in the as-of
tolerance join, duplicated/overlapping intervals stress the union
sweep, and tiny count domains force heavy median ties in the seasonal
baseline -- comparing Spark's exact integers against a literal Python
recomputation per example. Small example budgets: each example writes
a parquet corpus and runs Spark jobs.
"""

from __future__ import annotations

import datetime
import tempfile
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from clueso_spark.plans.staged_r12 import (
    _ASOF_TOL_US,
    _IVL_LEN_US,
)
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r12")

_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _write(rows) -> str:
    out = tempfile.mkdtemp(prefix="hyp_r12_")
    pq.write_table(
        pa.Table.from_pylist(rows, schema=_SCHEMA), f"{out}/events.parquet"
    )
    return out


def _us(ts: datetime.datetime) -> int:
    return int(
        ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6
    )


#: clicks/purchases on a grid measured in FRACTIONS of the tolerance,
#: with collisions: steps of tol/2 guarantee gaps that land exactly
#: on, inside, and beyond the bound, and same-ts click+purchase pairs
#: exercise the (ts, tag, event_id) ordering.
asof_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),  # user
        st.integers(min_value=0, max_value=6),  # ts in units of tol/2
        st.sampled_from(["click", "purchase"]),
    ),
    min_size=2,
    max_size=16,
)


def _asof_rows(raw):
    return [
        {
            "event_id": i,
            "ts": datetime.datetime(2024, 1, 1)
            + datetime.timedelta(microseconds=k * (_ASOF_TOL_US // 2)),
            "user_id": u,
            "event_type": t,
            "value": 1.0,
            "props": "{}",
        }
        for i, (u, k, t) in enumerate(raw)
    ]


@settings(max_examples=6, deadline=None)
@given(raw=asof_strategy)
def test_asof_tolerance_random_collisions(spark, raw):
    rows = _asof_rows(raw)
    per_user = defaultdict(list)
    for r in rows:
        per_user[r["user_id"]].append(
            (
                _us(r["ts"]),
                0 if r["event_type"] == "click" else 1,
                r["event_id"],
            )
        )
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        last_click = None
        for ts, tag, eid in evs:
            if tag == 0:
                last_click = (ts, eid)
            elif last_click and ts - last_click[0] <= _ASOF_TOL_US:
                want[eid] = (u, last_click[1], ts - last_click[0])
            else:
                want[eid] = (u, -1, -1)
    got = {
        r["purchase_id"]: (r["user_id"], r["click_id"], r["gap_us"])
        for r in QUERIES["ev_asof_tolerance_join"]
        .spark(spark, _write(rows))
        .collect()
    }
    assert got == want


#: interval starts in units of HALF the interval length: guarantees
#: exact-touch, half-overlap, containment, and duplicate starts
interval_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user
        st.integers(min_value=0, max_value=8),  # start in units of L/2
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=6, deadline=None)
@given(raw=interval_strategy)
def test_interval_union_random_overlaps(spark, raw):
    rows = [
        {
            "event_id": i,
            "ts": datetime.datetime(2024, 1, 1)
            + datetime.timedelta(microseconds=k * (_IVL_LEN_US // 2)),
            "user_id": u,
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
        for i, (u, k) in enumerate(raw)
    ]
    per_user = defaultdict(list)
    for r in rows:
        per_user[r["user_id"]].append(_us(r["ts"]))
    want = {}
    for u, starts in per_user.items():
        starts.sort()
        covered, max_end = 0, None
        for s in starts:
            e = s + _IVL_LEN_US
            lo = s if max_end is None else max(s, max_end)
            covered += max(e - lo, 0)
            max_end = e if max_end is None else max(max_end, e)
        want[u] = (len(starts), covered)
    got = {
        r["user_id"]: (r["n_events"], r["covered_us"])
        for r in QUERIES["ev_interval_union_length"]
        .spark(spark, _write(rows))
        .collect()
    }
    assert got == want


#: events spread over up to 3 weeks with a TINY per-day count domain
#: (heavy median ties) -- day index drives both the dow grouping and
#: the rank tie-break
seasonal_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # day
        st.integers(min_value=1, max_value=3),  # events that day
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)


@settings(max_examples=6, deadline=None)
@given(raw=seasonal_strategy)
def test_seasonal_dow_random_tie_structures(spark, raw):
    rows = []
    eid = 0
    for day, cnt in raw:
        for k in range(cnt):
            eid += 1
            rows.append(
                {
                    "event_id": eid,
                    "ts": datetime.datetime(2024, 1, 1)
                    + datetime.timedelta(days=day, seconds=k),
                    "user_id": 1,
                    "event_type": "view",
                    "value": 1.0,
                    "props": "{}",
                }
            )
    base_day = _us(datetime.datetime(2024, 1, 1)) // 86_400_000_000
    groups = defaultdict(list)
    for day, cnt in raw:
        groups[(base_day + day) % 7].append((cnt, base_day + day))
    want = {}
    for dow, pairs in groups.items():
        pairs.sort()
        cnts = [c for c, _ in pairs]
        k = len(cnts)
        med2 = cnts[(k + 1) // 2 - 1] + cnts[(k + 2) // 2 - 1]
        deviant = sum(1 for c in cnts if 2 * abs(2 * c - med2) > med2)
        want[dow] = (med2, k, deviant)
    got = {
        r["dow"]: (r["median2_daily"], r["n_days"], r["n_deviant"])
        for r in QUERIES["ev_seasonal_dow_deviation"]
        .spark(spark, _write(rows))
        .collect()
    }
    assert got == want


#: signed flows with COLLIDING timestamps: same-ts events force the
#: (ts, event_id) tie-break in both running windows, and the credit/
#: debit mix drives the balance through real peaks and troughs
drawdown_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),  # user
        st.integers(min_value=0, max_value=4),  # ts step (collisions)
        st.sampled_from(["purchase", "signup", "click", "view", "error"]),
        st.integers(min_value=1, max_value=500),  # value in cents
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=6, deadline=None)
@given(raw=drawdown_strategy)
def test_max_drawdown_random_collisions(spark, raw):
    rows = [
        {
            "event_id": i,
            "ts": datetime.datetime(2024, 1, 1)
            + datetime.timedelta(seconds=k),
            "user_id": u,
            "event_type": t,
            "value": c / 100.0,
            "props": "{}",
        }
        for i, (u, k, t, c) in enumerate(raw)
    ]
    per_user = defaultdict(list)
    for r in rows:
        flow = round(r["value"] * 100)
        if r["event_type"] not in ("purchase", "signup"):
            flow = -flow
        per_user[r["user_id"]].append((_us(r["ts"]), r["event_id"], flow))
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        bal = dd = 0
        peak = None
        for _, _, flow in evs:
            bal += flow
            peak = bal if peak is None else max(peak, bal)
            dd = max(dd, peak - bal)
        want[u] = (len(evs), dd, bal)
    got = {
        r["user_id"]: (
            r["n_events"],
            r["max_drawdown_cents"],
            r["final_bal_cents"],
        )
        for r in QUERIES["window_max_drawdown"]
        .spark(spark, _write(rows))
        .collect()
    }
    assert got == want


#: activity days spanning week boundaries with duplicates: the mask
#: bit_or must dedup same-day repeats, and week w -> w+1 adjacency
#: must hold across the rebased boundary regardless of the corpus min
bitmap_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user
        st.integers(min_value=0, max_value=20),  # day offset
    ),
    min_size=1,
    max_size=24,
)


@settings(max_examples=6, deadline=None)
@given(raw=bitmap_strategy)
def test_bitmap_retention_random_patterns(spark, raw):
    rows = [
        {
            "event_id": i,
            "ts": datetime.datetime(2024, 1, 1)
            + datetime.timedelta(days=d, hours=3),
            "user_id": u,
            "event_type": "click",
            "value": 1.0,
            "props": "{}",
        }
        for i, (u, d) in enumerate(raw)
    ]
    base = min(d for _, d in raw)
    masks = defaultdict(dict)
    for u, d in raw:
        rd = d - base
        w = rd // 7
        masks[u][w] = masks[u].get(w, 0) | (1 << (rd % 7))
    want = {}
    for u, wm in masks.items():
        for w, m in wm.items():
            nxt = wm.get(w + 1)
            want[(u, w)] = (
                bin(m).count("1"),
                bin(m & nxt).count("1") if nxt is not None else 0,
            )
    got = {
        (r["user_id"], r["week"]): (r["active_days"], r["retained_days"])
        for r in QUERIES["ev_bitmap_retention"]
        .spark(spark, _write(rows))
        .collect()
    }
    assert got == want


#: item sets sized to cross the KMV branch point: up to ~200 distinct
#: (user, day) pairs per example, so cohorts land on BOTH sides of
#: n >= k (estimation) and n < k (exact passthrough)
theta_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),  # user
        st.integers(min_value=0, max_value=6),  # day
        st.sampled_from(["click", "purchase"]),
    ),
    min_size=1,
    max_size=200,
)


@settings(max_examples=6, deadline=None)
@given(raw=theta_strategy)
def test_theta_sketch_random_sets(spark, raw):
    import hashlib

    from clueso_spark.plans.staged_r12 import _KMV_K, _KMV_M

    rows = [
        {
            "event_id": i,
            "ts": datetime.datetime(2024, 1, 1)
            + datetime.timedelta(days=d, hours=5),
            "user_id": u,
            "event_type": t,
            "value": 1.0,
            "props": "{}",
        }
        for i, (u, d, t) in enumerate(raw)
    ]
    day0 = _us(datetime.datetime(2024, 1, 1)) // 86_400_000_000
    cohorts = defaultdict(set)
    for u, d, t in raw:
        c = "a" if t == "click" else "b"
        cohorts[c].add(f"{u}:{day0 + d}")
    cohorts["u"] = cohorts["a"] | cohorts["b"]

    def est(items):
        n = len(items)
        if n < _KMV_K:
            return n, n
        ranked = sorted(
            (int(hashlib.md5(i.encode()).hexdigest()[:8], 16), i)
            for i in items
        )
        return n, ((_KMV_K - 1) * _KMV_M) // ranked[_KMV_K - 1][0]

    na, ea = est(cohorts["a"])
    nb, eb = est(cohorts["b"])
    nu, eu = est(cohorts["u"])
    [row] = (
        QUERIES["agg_theta_sketch_setops"].spark(spark, _write(rows)).collect()
    )
    assert (row["exact_a"], row["exact_b"], row["exact_union"]) == (
        na or None,
        nb or None,
        nu,
    ) or (row["exact_a"], row["exact_b"], row["exact_union"]) == (
        na,
        nb,
        nu,
    )
    assert (row["est_a"], row["est_b"], row["est_union"]) == (
        ea or None,
        eb or None,
        eu,
    ) or (row["est_a"], row["est_b"], row["est_union"]) == (ea, eb, eu)
