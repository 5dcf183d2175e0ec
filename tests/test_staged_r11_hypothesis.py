"""Hypothesis-randomized third opinions for the staged r11 statistics
ops. The fixed-corpus third-opinion tests (test_third_opinion_r11)
verify one tie structure; these generate ADVERSARIAL ones -- small
value domains force heavy midrank ties, colliding timestamps force the
event_id tie-break -- and compare Spark's exact integers against a
literal Python recomputation per example. Small example budgets: each
example writes a parquet corpus and runs Spark jobs.
"""

from __future__ import annotations

import datetime
import tempfile
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r11")


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
    out = tempfile.mkdtemp(prefix="hyp_r11_")
    pq.write_table(pa.Table.from_pylist(rows, schema=_SCHEMA), f"{out}/events.parquet")
    return out


#: events with a TINY value domain (0.00-0.04: 5 distinct cents values
#: over up to 24 rows -> guaranteed heavy tie groups) and colliding
#: minute-timestamps (ts ties resolved by event_id only)
events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user
        st.integers(min_value=0, max_value=3),  # minute (collisions!)
        st.sampled_from(["click", "view"]),
        st.integers(min_value=0, max_value=4),  # cents value
    ),
    min_size=2,
    max_size=24,
)


def _rows(raw):
    return [
        {
            "event_id": i,
            "ts": datetime.datetime(2024, 1, 1)
            + datetime.timedelta(minutes=m),
            "user_id": u,
            "event_type": t,
            "value": v / 100.0,
            "props": "{}",
        }
        for i, (u, m, t, v) in enumerate(raw)
    ]


@settings(max_examples=6, deadline=None)
@given(raw=events_strategy)
def test_mann_whitney_random_tie_structures(spark, raw):
    rows = _rows(raw)
    a = [round(r["value"] * 100) for r in rows if r["event_type"] == "click"]
    b = [round(r["value"] * 100) for r in rows if r["event_type"] == "view"]
    cnt = Counter(a + b)
    less, run = {}, 0
    for v in sorted(cnt):
        less[v] = run
        run += cnt[v]
    r2a = sum(2 * less[v] + cnt[v] + 1 for v in a)
    r2b = sum(2 * less[v] + cnt[v] + 1 for v in b)
    u2a = r2a - len(a) * (len(a) + 1)
    u2b = r2b - len(b) * (len(b) + 1)
    got = QUERIES["agg_mann_whitney"].spark(spark, _write(rows)).collect()[0]
    assert (got["n_a"], got["n_b"]) == (len(a), len(b))
    assert (got["u2_a"], got["u2_b"]) == (u2a, u2b)
    assert got["identity_resid"] == 0


@settings(max_examples=6, deadline=None)
@given(raw=events_strategy)
def test_rolling_median_random_ts_collisions(spark, raw):
    rows = _rows(raw)
    series = defaultdict(list)
    for r in sorted(
        rows,
        key=lambda r: (r["ts"], r["event_id"]),  # the query's tie-break
    ):
        series[r["user_id"]].append(
            (r["event_id"], round(r["value"] * 100))
        )
    want = {}
    for _, s in series.items():
        for i, (eid, _) in enumerate(s):
            frame = sorted(c for _, c in s[max(0, i - 4) : i + 1])
            n = len(frame)
            want[eid] = (n, frame[(n - 1) // 2] + frame[n // 2])
    got = {
        r["event_id"]: (r["n_in_frame"], r["median_x2_cents"])
        for r in QUERIES["window_rolling_median"]
        .spark(spark, _write(rows))
        .collect()
    }
    assert got == want
