"""Hypothesis-randomized third opinions for the staged r14 ops.

The fixed-corpus tests (test_staged_r14) verify one structure; these
generate ADVERSARIAL ones -- boundary-grid timestamps (exact hour
marks, +/-1 us, sub-millisecond offsets) stress the outer join's
ms-truncated watermark eviction; random sub-vector layouts with
forced value ties stress MaxSim's max/tie-break arithmetic --
comparing Spark against a literal Python recomputation per example.
Small example budgets: each example writes a parquet corpus and runs
Spark jobs (the outer-join examples each start a streaming query).
"""

from __future__ import annotations

import datetime
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from clueso_spark.plans.staged_r14 import (
    _HOUR_US,
    _MV_DIM,
    _MV_SUB,
)
from clueso_spark.plans.streaming_queries import stream_state_partitions
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r14")

_EV_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

_EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)

_BASE_US = int(
    datetime.datetime(
        2024, 1, 1, tzinfo=datetime.timezone.utc
    ).timestamp()
    * 1_000_000
)


def _write_events(rows) -> str:
    out = tempfile.mkdtemp(prefix="hyp_r14_ev_")
    pq.write_table(
        pa.Table.from_pylist(rows, schema=_EV_SCHEMA),
        f"{out}/events.parquet",
    )
    return out


#: offsets in MICROSECONDS from the base instant, on a grid built
#: from half-hour steps plus {0, +1, -1, +600, 999_999} us jitter --
#: gaps land exactly ON, 1 us inside, 1 us beyond, and sub-ms around
#: the 1 h range and the ms-truncated watermark boundary.
_JITTER = [0, 1, -1, 600, 999_999]
_offset = st.builds(
    lambda halfhours, j: halfhours * 1_800_000_000 + _JITTER[j],
    st.integers(min_value=0, max_value=8),
    st.integers(min_value=0, max_value=len(_JITTER) - 1),
)

_events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["click", "purchase"]),
        st.integers(min_value=0, max_value=2),  # user collisions
        _offset,
    ),
    min_size=1,
    max_size=14,
)


def _expected_outer(events):
    """Literal recomputation of the emission contract: matched pairs
    via the batch range join; null-matches for matchless clicks with
    c_us + 1h <= min over streams of floor_ms(max) - 1h (either side
    empty => watermark uninitialized => no null emission)."""
    clicks = [(eid, u, t) for eid, (k, u, t) in enumerate(events) if k == "click"]
    purch = [(eid, u, t) for eid, (k, u, t) in enumerate(events) if k == "purchase"]
    matched = {
        (ce, pe)
        for ce, cu, ct in clicks
        for pe, pu, pt in purch
        if cu == pu and ct <= pt < ct + _HOUR_US
    }
    nulls = set()
    if clicks and purch:
        wm = (
            min(
                max(t for _, _, t in clicks) // 1000 * 1000,
                max(t for _, _, t in purch) // 1000 * 1000,
            )
            - _HOUR_US
        )
        matched_clicks = {ce for ce, _ in matched}
        nulls = {
            ce
            for ce, cu, ct in clicks
            if ce not in matched_clicks and ct + _HOUR_US <= wm
        }
    return matched, nulls


@given(_events_strategy)
@settings(max_examples=5, deadline=None)
def test_outer_join_matches_literal_model(spark, events):
    rows = [
        {
            "event_id": eid,
            "ts": datetime.datetime(2024, 1, 1)
            + datetime.timedelta(microseconds=off),
            "user_id": user,
            "event_type": kind,
            "value": 1.0,
            "props": "{}",
        }
        for eid, (kind, user, off) in enumerate(events)
    ]
    sf_dir = _write_events(rows)
    out = QUERIES["st_stream_stream_outer_join"].spark(spark, sf_dir).collect()
    got_matched = {
        (r["click_id"], r["purchase_id"])
        for r in out
        if r["purchase_id"] is not None
    }
    got_nulls = {r["click_id"] for r in out if r["purchase_id"] is None}
    ev_us = [(k, u, _BASE_US + off) for (k, u, off) in events]
    want_matched, want_nulls = _expected_outer(ev_us)
    assert got_matched == want_matched, (events, got_matched, want_matched)
    assert got_nulls == want_nulls, (events, got_nulls, want_nulls)


#: vectors drawn from a TINY value grid so sub-dot products collide:
#: equal maxes exercise array_max determinism, equal scores exercise
#: the (score desc, vec_id) tie-break.
_vec_strategy = st.lists(
    st.lists(
        st.sampled_from([0.0, 0.5, -0.5, 1.0]),
        min_size=_MV_SUB * _MV_DIM,
        max_size=_MV_SUB * _MV_DIM,
    ),
    min_size=6,
    max_size=10,
)


@given(_vec_strategy)
@settings(max_examples=5, deadline=None)
def test_maxsim_matches_literal_model(spark, vecs):
    sf_dir = tempfile.mkdtemp(prefix="hyp_r14_emb_")
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"vec_id": i, "embedding": v, "label": 0}
                for i, v in enumerate(vecs)
            ],
            schema=_EMB_SCHEMA,
        ),
        f"{sf_dir}/embeddings.parquet",
    )
    got = [
        (r["probe_id"], r["vec_id"], round(r["maxsim"], 6), r["rk"])
        for r in QUERIES["sim_colbert_maxsim"]
        .spark(spark, sf_dir)
        .orderBy("probe_id", "rk")
        .collect()
    ]

    def maxsim(q, d):
        total = 0.0
        for i in range(_MV_SUB):
            qi = q[i * _MV_DIM : (i + 1) * _MV_DIM]
            total += max(
                sum(a * b for a, b in zip(qi, d[j * _MV_DIM : (j + 1) * _MV_DIM]))
                for j in range(_MV_SUB)
            )
        return total

    want = []
    for p in range(min(5, len(vecs))):
        scored = sorted(
            (
                (d, maxsim(vecs[p], v))
                for d, v in enumerate(vecs)
                if d != p
            ),
            key=lambda t: (-t[1], t[0]),
        )
        for rk, (d, s) in enumerate(scored[:10], start=1):
            want.append((p, d, round(s, 6), rk))
    assert got == sorted(want, key=lambda t: (t[0], t[3])), (got, want)


def test_state_partition_sizing_properties(spark, tmp_path):
    """Pure-function contract: floor 4, capped by the session setting,
    monotone in input bytes, and exactly ceil(bytes / 32 MB) between
    the clamps."""
    sizes = [0, 1, 32 << 20, (32 << 20) + 1, 10 << 30]
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    got = []
    for k, size in enumerate(sizes):
        d = tmp_path / f"s{k}"
        d.mkdir()
        with open(d / "events.parquet", "wb") as f:
            f.truncate(size)
        got.append(stream_state_partitions(spark, str(d)))
    assert got == sorted(got)  # monotone
    assert all(4 <= g <= max(4, session) for g in got)
    expected = [
        max(4, min(session, (s + (32 << 20) - 1) // (32 << 20)))
        for s in sizes
    ]
    assert got == expected
    # an UNSTATTABLE path (missing locally, or an object-store URI the
    # local-FS probe cannot size) must assume BIG input -- the session
    # cap -- not the 4-partition floor: at 100 TB the floor would
    # drastically under-partition streaming state (VERDICT r15
    # perf-weak fix). Never raises.
    assert stream_state_partitions(spark, str(tmp_path / "nope")) == max(
        4, session
    )
    assert stream_state_partitions(
        spark, "s3a://corpus-bucket/sf100tb"
    ) == max(4, session)


def test_state_partition_sizing_handles_directory_parquet(spark, tmp_path):
    """ADVICE r14: a Spark directory-style events.parquet (the
    scaling-curve builds) must size by the SUM of its part files, not
    the ~4 KB directory inode -- which silently collapsed the
    input-sized policy to the 4-partition floor. Marker files
    (_SUCCESS, dotfiles) are excluded from the sum."""
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = tmp_path / "dirstyle"
    (d / "events.parquet").mkdir(parents=True)
    part_bytes = 96 << 20  # 3 parts x 96 MB = 288 MB -> 9 partitions
    for k in range(3):
        with open(d / "events.parquet" / f"part-{k:05d}.parquet", "wb") as f:
            f.truncate(part_bytes)
    # markers must not count toward the size
    (d / "events.parquet" / "_SUCCESS").write_bytes(b"")
    with open(d / "events.parquet" / ".part-crc", "wb") as f:
        f.truncate(1 << 30)
    want = max(4, min(session, (3 * part_bytes + (32 << 20) - 1) // (32 << 20)))
    assert stream_state_partitions(spark, str(d)) == want
    assert want > 4  # the regression this pins: NOT the floor
