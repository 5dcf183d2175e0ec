"""Edge-corpus tests for the staged round-11 tier: empty tables (the
sweep class that caught the r9 DIVIDE_BY_ZERO pair) and single-row /
degenerate shapes for the ops with frame or seed preconditions."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clueso_spark.plans.staged_r11 import _EWMA_TAPS
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r11")


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from empty_sweep import write_empty_corpus

    return write_empty_corpus(str(tmp_path_factory.mktemp("empty_r11")))


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_empty_corpus_returns_not_raises(spark, name, empty_sf):
    rows = QUERIES[name].spark(spark, empty_sf).collect()
    assert isinstance(rows, list)


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


def test_rolling_median_single_event_user(spark, tmp_path):
    """n = 1 frame: median_x2 = 2x the lone value."""
    sf = _events_table(tmp_path, [_ev(1, 7, 0, "click", 3.5)])
    rows = QUERIES["window_rolling_median"].spark(spark, sf).collect()
    assert len(rows) == 1
    assert rows[0]["n_in_frame"] == 1
    assert rows[0]["median_x2_cents"] == 700


def test_ewma_emits_nothing_below_full_history(spark, tmp_path):
    """A user with taps-1 events produces zero EWMA rows (the FIR never
    renormalizes on partial history)."""
    sf = _events_table(
        tmp_path,
        [_ev(i, 7, i, "click", 1.0) for i in range(_EWMA_TAPS - 1)],
    )
    assert QUERIES["ev_ewma_smoothed"].spark(spark, sf).count() == 0


def test_mann_whitney_one_empty_sample(spark, tmp_path):
    """All observations in one group: U2 for the present group is
    n_a*(n_a+1) rank-sum minus itself over an absent opponent -- the
    doubled-U identity still holds with n_b = 0 (both U2s are 0)."""
    sf = _events_table(
        tmp_path, [_ev(i, i, i, "click", float(i)) for i in range(1, 5)]
    )
    row = QUERIES["agg_mann_whitney"].spark(spark, sf).collect()[0]
    assert (row["n_a"], row["n_b"]) == (4, 0)
    assert (row["u2_a"], row["u2_b"]) == (0, 0)
    assert row["identity_resid"] == 0


def test_top_paths_short_sessions_keep_partial_paths(spark, tmp_path):
    """A (user, day) with fewer than 3 events contributes its partial
    path -- not dropped, not padded."""
    sf = _events_table(
        tmp_path,
        [
            _ev(1, 1, 0, "signup", 1.0),
            _ev(2, 1, 1, "click", 1.0),
            _ev(3, 2, 0, "view", 1.0),
        ],
    )
    rows = QUERIES["ev_top_paths"].spark(spark, sf).collect()
    got = {r["path"]: r["n_sessions"] for r in rows}
    assert got == {"signup>click": 1, "view": 1}


def _documents_table(tmp_path, docs):
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": [i for i, _ in docs],
                "text": [t for _, t in docs],
                "lang": ["en"] * len(docs),
                "source": ["test"] * len(docs),
                "n_chars": [len(t) for _, t in docs],
            },
            schema=schema,
        ),
        str(tmp_path / "documents.parquet"),
    )
    return str(tmp_path)


def test_edit_distance_suffix_family_catches_leading_edit(spark, tmp_path):
    """The round-11 verdict counter-example, pinned: prefix blocking
    alone is deterministically blind to a near-dup whose single edit
    falls inside the first 12 characters (a changed leading
    timestamp/title token). The suffix blocking family must surface
    exactly that pair -- and the prefix family must still surface the
    trailing-edit pair it always caught. A pair edited at BOTH ends is
    the documented residual miss (verify-tier contract): asserting its
    absence pins the contract rather than overclaiming recall."""
    base = "shared body of the near duplicate document #"
    docs = [
        # leading edit: first char differs, tail identical
        (1, "X" + base + "0001"),
        (2, "Y" + base + "0001"),
        # trailing edit: head identical, last char differs
        (3, "Z" + base + "0002"),
        (4, "Z" + base + "0003"),
        # edited at both ends: the documented residual miss
        (5, "P" + base + "0004"),
        (6, "Q" + base + "0005"),
        # unrelated doc, same length bucket
        (7, "totally different content with no shared affixes here"),
    ]
    sf = _documents_table(tmp_path, docs)
    rows = QUERIES["dedup_edit_distance"].spark(spark, sf).collect()
    got = {(r["doc_a"], r["doc_b"]): r["edit_distance"] for r in rows}
    assert got.get((1, 2)) == 1, "suffix family must catch the leading edit"
    assert got.get((3, 4)) == 1, "prefix family must keep the trailing edit"
    assert (5, 6) not in got, "both-ends edit is the documented miss"
    assert not any(7 in pair for pair in got), "unrelated doc paired"


def test_edit_distance_families_dedup_pairs(spark, tmp_path):
    """A pair blocked by BOTH families (identical docs share prefix and
    suffix keys) must appear exactly once -- the cross-family pair-level
    distinct is part of the output contract, not an optimization."""
    t = "identical twin documents share both blocking keys equally"
    sf = _documents_table(tmp_path, [(1, t), (2, t)])
    rows = QUERIES["dedup_edit_distance"].spark(spark, sf).collect()
    assert [(r["doc_a"], r["doc_b"], r["edit_distance"]) for r in rows] == [
        (1, 2, 0)
    ]
