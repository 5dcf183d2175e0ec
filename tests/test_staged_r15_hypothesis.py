"""Hypothesis-randomized third opinions for the staged r15 ops.

The planted tests (test_staged_r15) verify chosen adversaries; these
generate random ones -- tiny-vocabulary corpora force merge-pair ties
and chained merges for the BPE trainer; random user/time/shard grids
stress the lateness audit's round-robin arrival order; random small
graphs stress the walk's sorted-neighbor md5 indexing -- each
compared against a literal Python model per example. Small example
budgets: each example writes a parquet corpus and runs Spark jobs.
"""

from __future__ import annotations

import datetime
import hashlib
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from clueso_spark.plans.staged_r15 import _LATE_SHARDS
from tests.conftest import registered_by
from tests.test_staged_r15 import _bpe_reference

QUERIES = registered_by("clueso_spark.plans.staged_r15")

_DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

#: texts over a 3-word vocabulary with runs: consecutive identical
#: tokens ("a a a a") are common, so greedy-vs-naive divergence and
#: top-pair ties (broken by pair asc) occur constantly.
_texts_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c"]), min_size=1, max_size=8
    ).map(" ".join),
    min_size=2,
    max_size=8,
)


@given(_texts_strategy)
@settings(max_examples=5, deadline=None)
def test_bpe_matches_literal_model(spark, texts):
    sf_dir = tempfile.mkdtemp(prefix="hyp_r15_bpe_")
    pq.write_table(
        pa.Table.from_pylist(
            [
                {
                    "doc_id": i,
                    "text": t,
                    "lang": "en",
                    "source": "src0",
                    "n_chars": len(t),
                }
                for i, t in enumerate(texts)
            ],
            schema=_DOC_SCHEMA,
        ),
        f"{sf_dir}/documents.parquet",
    )
    got = [
        (
            r["step"],
            r["pair_left"],
            r["pair_right"],
            r["freq"],
            r["n_tokens_after"],
        )
        for r in QUERIES["txt_bpe_merge_steps"]
        .spark(spark, sf_dir)
        .orderBy("step")
        .collect()
    ]
    want = _bpe_reference(texts, 3)
    assert got == want, (texts, got, want)


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

#: (user, second-offset) pairs on a coarse grid so per-user ties in
#: event time and heavy shard interleaving both occur.
_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=20),
    ),
    min_size=1,
    max_size=16,
)


@given(_events_strategy)
@settings(max_examples=5, deadline=None)
def test_lateness_matches_literal_model(spark, events):
    B = datetime.datetime(2024, 1, 1)
    sf_dir = tempfile.mkdtemp(prefix="hyp_r15_late_")
    pq.write_table(
        pa.Table.from_pylist(
            [
                {
                    "event_id": eid,
                    "ts": B + datetime.timedelta(seconds=sec),
                    "user_id": user,
                    "event_type": "click",
                    "value": 1.0,
                    "props": "{}",
                }
                for eid, (user, sec) in enumerate(events)
            ],
            schema=_EV_SCHEMA,
        ),
        f"{sf_dir}/events.parquet",
    )

    def shard(eid):
        return (
            int(hashlib.md5(str(eid).encode()).hexdigest()[:8], 16)
            % _LATE_SHARDS
        )

    by_shard = {}
    for eid, (user, sec) in enumerate(events):
        by_shard.setdefault(shard(eid), []).append((eid, user, sec))
    arrival = []
    for sh, rows in by_shard.items():
        for pos, (eid, user, sec) in enumerate(sorted(rows), start=1):
            arrival.append((pos, sh, user, sec * 1_000_000))
    arrival.sort()
    want, state = {}, {}
    for _pos, _sh, u, t in arrival:
        hw = state.get(u)
        late = hw - t if hw is not None and hw > t else 0
        n, nl, tot, mx = want.get(u, (0, 0, 0, 0))
        want[u] = (
            n + 1,
            nl + (1 if late > 0 else 0),
            tot + late,
            max(mx, late),
        )
        state[u] = t if hw is None else max(hw, t)
    want = {
        u: (n, nl, tot, mx, 10000 * nl // n)
        for u, (n, nl, tot, mx) in want.items()
    }
    got = {
        r["user_id"]: (
            r["n_events"],
            r["n_late"],
            r["total_late_us"],
            r["max_late_us"],
            r["late_permyriad"],
        )
        for r in QUERIES["ev_lateness_audit"].spark(spark, sf_dir).collect()
    }
    assert got == want, (events, got, want)
