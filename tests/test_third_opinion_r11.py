"""Third-opinion checks for the math-heaviest staged round-11 operators.

Same rationale as tests/test_third_opinion.py: parity proves
Spark == DuckDB, but a mis-derived formula SHARED by query and oracle
would still pass. These recompute Mann-Whitney, the rolling median,
the EWMA FIR, the sweep-line active counts, and Bellman-Ford a third
way -- pure Python over pyarrow-read rows, written independently from
first principles -- and require the Spark output to match exactly
(every chain is integer-exact, so Python reproduces it bit-for-bit).
"""

from __future__ import annotations

import datetime
from collections import defaultdict

import pyarrow.parquet as pq
import pytest

from clueso_spark.plans.staged_r11 import (
    _BF_ROUNDS,
    _BF_SEED_MOD,
    _EWMA_TAPS,
    _EWMA_WEIGHTS,
)
from clueso_spark.plans.relational import SUPP_BASE as _BF_SUPP_BASE
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r11")

SF = "/root/testdata/sf0.001"
_DAY_US = 86_400_000_000


@pytest.fixture(scope="module")
def events():
    return pq.read_table(f"{SF}/events.parquet").to_pylist()


def _cents(v: float) -> int:
    return round(v * 100)


def _us(ts: datetime.datetime) -> int:
    return int(ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)


def test_mann_whitney_third_opinion(spark, events):
    """Doubled midranks from a literal sort: assign each observation
    2r = 2*less + ties + 1 by walking the sorted pooled sample, sum per
    group, U2 = R2 - n(n+1). Verifies tie handling end-to-end."""
    a = sorted(
        _cents(e["value"]) for e in events if e["event_type"] == "click"
    )
    b = sorted(
        _cents(e["value"]) for e in events if e["event_type"] == "view"
    )
    pooled = sorted((v, "a") for v in a) + sorted((v, "b") for v in b)
    pooled.sort(key=lambda t: t[0])
    # doubled midrank per value
    from collections import Counter

    cnt = Counter(v for v, _ in pooled)
    less: dict[int, int] = {}
    run = 0
    for v in sorted(cnt):
        less[v] = run
        run += cnt[v]
    r2a = sum(2 * less[v] + cnt[v] + 1 for v in a)
    r2b = sum(2 * less[v] + cnt[v] + 1 for v in b)
    u2a = r2a - len(a) * (len(a) + 1)
    u2b = r2b - len(b) * (len(b) + 1)
    assert u2a + u2b == 2 * len(a) * len(b)  # textbook identity
    row = QUERIES["agg_mann_whitney"].spark(spark, SF).collect()[0]
    assert (row["n_a"], row["n_b"]) == (len(a), len(b))
    assert (row["u2_a"], row["u2_b"]) == (u2a, u2b)
    assert row["identity_resid"] == 0


def test_rolling_median_third_opinion(spark, events):
    """Literal per-user 5-row frames: sort each frame, doubled
    middle-pair sum, for every row."""
    series = defaultdict(list)
    for e in sorted(events, key=lambda e: (_us(e["ts"]), e["event_id"])):
        series[e["user_id"]].append((e["event_id"], _cents(e["value"])))
    want = {}
    for uid, rows in series.items():
        for i, (eid, _) in enumerate(rows):
            frame = sorted(c for _, c in rows[max(0, i - 4) : i + 1])
            n = len(frame)
            want[eid] = (n, frame[(n - 1) // 2] + frame[n // 2])
    got = {
        r["event_id"]: (r["n_in_frame"], r["median_x2_cents"])
        for r in QUERIES["window_rolling_median"].spark(spark, SF).collect()
    }
    assert got == want


def test_ewma_third_opinion(spark, events):
    """Literal FIR: s_k = sum_j weights[j] * x_{k-j} over each user's
    time-ordered series, rows with full history only."""
    series = defaultdict(list)
    for e in sorted(events, key=lambda e: (_us(e["ts"]), e["event_id"])):
        series[e["user_id"]].append((e["event_id"], _cents(e["value"])))
    want = {}
    for rows in series.values():
        for i in range(_EWMA_TAPS - 1, len(rows)):
            eid = rows[i][0]
            want[eid] = sum(
                _EWMA_WEIGHTS[j] * rows[i - j][1] for j in range(_EWMA_TAPS)
            )
    got = {
        r["event_id"]: r["ewma_scaled"]
        for r in QUERIES["ev_ewma_smoothed"].spark(spark, SF).collect()
    }
    assert got == want
    # weight vector sanity: geometric 7/8 decay scaled by 8^taps
    assert _EWMA_WEIGHTS[0] == 8 ** (_EWMA_TAPS - 1)
    for j in range(1, _EWMA_TAPS):
        assert _EWMA_WEIGHTS[j] * 8 == _EWMA_WEIGHTS[j - 1] * 7


def test_sweepline_third_opinion(spark):
    """Literal day-by-day interval counting over the lineitem table:
    for each of the top-reported days, count intervals covering it by
    brute force."""
    li = pq.read_table(f"{SF}/lineitem.parquet").to_pylist()
    epoch = datetime.date(1970, 1, 1)
    intervals = []
    for r in li:
        d0 = (r["l_shipdate"].date() - epoch).days
        intervals.append((d0, d0 + (int(r["l_quantity"]) % 7) + 1))
    rows = (
        QUERIES["ev_sweepline_active_intervals"].spark(spark, SF).collect()
    )
    assert len(rows) == 15
    for row in rows:
        brute = sum(1 for s, e in intervals if s <= row["day"] < e)
        assert brute == row["active"], (row["day"], brute, row["active"])
    # the report must be the true top by (active desc, day asc)
    all_days = sorted({d for s, e in intervals for d in (s, e)})
    cover = sorted(
        (
            (-sum(1 for s, e in intervals if s <= d < e), d)
            for d in range(min(all_days), max(all_days) + 1)
        )
    )[:15]
    assert [(-a, d) for a, d in cover] == [
        (r["active"], r["day"]) for r in rows
    ]


def test_bellman_ford_third_opinion(spark):
    """Literal Bellman-Ford over the co-purchase edge dict: relax
    _BF_ROUNDS times from the seed set, compare per-round reached
    counts and exact distance sums."""
    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in pq.read_table(f"{SF}/orders.parquet").to_pylist()
    }
    w: dict[tuple[int, int], int] = {}
    for r in pq.read_table(f"{SF}/lineitem.parquet").to_pylist():
        c = orders.get(r["l_orderkey"])
        if c is None:
            continue
        s = _BF_SUPP_BASE + r["l_suppkey"]
        q = int(r["l_quantity"])
        for k in ((c, s), (s, c)):
            w[k] = min(w.get(k, q), q)
    dist = {
        u
        for u, _ in w
        if u < _BF_SUPP_BASE and u % _BF_SEED_MOD == 0
    }
    dist = {u: 0 for u in dist}
    want = [(len(dist), sum(dist.values()))]
    for _ in range(_BF_ROUNDS):
        new = dict(dist)
        for (u, v), wt in w.items():
            if u in dist and dist[u] + wt < new.get(v, 1 << 60):
                new[v] = dist[u] + wt
        dist = new
        want.append((len(dist), sum(dist.values())))
    got = sorted(
        (r["k"], r["n_reached"], r["sum_dist"])
        for r in QUERIES["graph_shortest_paths"].spark(spark, SF).collect()
    )
    assert got == [(k, n, s) for k, (n, s) in enumerate(want)]


def test_kmv_third_opinion(spark):
    """Literal bottom-k over Python-computed md5 hashes: the estimate
    must be the identical integer."""
    import hashlib

    from clueso_spark.plans.staged_r11 import _KMV_BITS_HEX, _KMV_K

    orders = pq.read_table(f"{SF}/orders.parquet").to_pylist()
    custkeys = {r["o_custkey"] for r in orders}
    hvs = sorted(
        {
            int(
                hashlib.md5(str(c).encode()).hexdigest()[:_KMV_BITS_HEX], 16
            )
            for c in custkeys
        }
    )
    bottom = hvs[:_KMV_K]
    if len(bottom) < _KMV_K:
        want_est = len(bottom)
    else:
        want_est = (_KMV_K - 1) * (2 ** (4 * _KMV_BITS_HEX)) // bottom[-1]
    row = QUERIES["agg_kmv_distinct"].spark(spark, SF).collect()[0]
    assert row["n_exact"] == len(custkeys)
    assert row["kth_hash"] == (bottom[-1] if bottom else 0)
    assert row["est_kmv"] == want_est
    # the sketch must actually estimate: within 30% at this k and scale
    assert abs(row["est_kmv"] - row["n_exact"]) <= 0.3 * row["n_exact"]


def test_mad_anomalies_third_opinion(spark, events):
    """Literal per-user medians: doubled median, doubled deviations,
    quadrupled MAD, anomaly count -- from plain Python sorts."""
    by_user = defaultdict(list)
    for e in events:
        by_user[e["user_id"]].append((e["event_id"], _cents(e["value"])))

    def doubled_median(vals):
        s = sorted(vals)
        n = len(s)
        return s[(n - 1) // 2] + s[n // 2]

    want = {}
    for uid, rows in by_user.items():
        m2 = doubled_median([c for _, c in rows])
        d2s = [abs(2 * c - m2) for _, c in rows]
        mad2 = doubled_median(d2s)
        n_anom = sum(1 for d2 in d2s if 2 * d2 > 3 * mad2)
        want[uid] = (len(rows), m2, mad2, n_anom)
    got = {
        r["user_id"]: (
            r["n_events"],
            r["median_x2_cents"],
            r["mad_x4_cents"],
            r["n_anomalies"],
        )
        for r in QUERIES["ev_user_value_anomalies"].spark(spark, SF).collect()
    }
    assert got == want


def test_winnowing_third_opinion(spark):
    """Literal winnowing over Python md5: k-gram hashes, per-window
    minima, distinct fingerprint sets, shared-fingerprint pair counts."""
    import hashlib
    from itertools import combinations

    from clueso_spark.plans.staged_r11 import (
        _WINNOW_K,
        _WINNOW_MIN_SHARED,
        _WINNOW_W,
    )

    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    fsets = {}
    for doc in docs:
        w = doc["text"].split(" ")
        if len(w) < _WINNOW_K + _WINNOW_W - 1:
            continue
        grams = [
            " ".join(w[i : i + _WINNOW_K])
            for i in range(len(w) - _WINNOW_K + 1)
        ]
        h = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        fsets[doc["doc_id"]] = {
            min(h[i : i + _WINNOW_W])
            for i in range(len(h) - _WINNOW_W + 1)
        }
    want = {}
    for a, b in combinations(sorted(fsets), 2):
        shared = len(fsets[a] & fsets[b])
        if shared >= _WINNOW_MIN_SHARED:
            want[(a, b)] = shared
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in QUERIES["dedup_winnowing"].spark(spark, SF).collect()
    }
    assert got == want


def test_cdc_chunking_third_opinion(spark):
    """Literal content-defined chunking in Python: hex blocks, md5
    boundary mask, chunk sizes from boundary positions -- plus the CDC
    defining property: inserting bytes at the FRONT of a payload
    leaves the chunk boundaries in the untouched suffix aligned (the
    reason CDC beats fixed-stride for dedup)."""
    import hashlib

    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()

    def chunks(payload: bytes):
        h = payload.hex().upper()
        blocks = [h[i : i + 8] for i in range(0, len(h) - 7, 8)]
        bpos = [
            i
            for i, b in enumerate(blocks)
            if hashlib.md5(b.encode()).hexdigest().startswith("0")
        ]
        ends = bpos + [len(blocks) - 1]
        starts = [-1] + bpos
        sizes = [e - s for e, s in zip(ends, starts) if e - s > 0]
        return len(blocks), sizes

    want = {}
    for d in docs:
        n_blocks, sizes = chunks(d["text"].encode())
        if n_blocks:
            want[d["doc_id"]] = (n_blocks, len(sizes), max(sizes))
    got = {
        r["doc_id"]: (r["n_blocks"], r["n_chunks"], r["max_chunk_blocks"])
        for r in QUERIES["mm_cdc_chunking"].spark(spark, SF).collect()
    }
    assert got == want
    # insertion stability: prepend 4 bytes (one whole block) -- every
    # original boundary shifts by exactly one block index
    payload = docs[0]["text"].encode()
    n0, _ = chunks(payload)
    h0 = payload.hex().upper()
    b0 = [
        i
        for i, b in enumerate(
            [h0[i : i + 8] for i in range(0, len(h0) - 7, 8)]
        )
        if hashlib.md5(b.encode()).hexdigest().startswith("0")
    ]
    shifted = b"XXXX" + payload
    h1 = shifted.hex().upper()
    b1 = [
        i
        for i, b in enumerate(
            [h1[i : i + 8] for i in range(0, len(h1) - 7, 8)]
        )
        if hashlib.md5(b.encode()).hexdigest().startswith("0")
    ]
    assert [i + 1 for i in b0] == [i for i in b1 if i >= 1]


def test_cdc_dedup_third_opinion(spark):
    """Literal chunk-level dedup accounting in Python: chunk every
    payload with the boundary rule, hash chunk contents, count
    duplicate copies and the blocks a content-addressed store skips."""
    import hashlib
    from collections import Counter

    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    chunk_counts: Counter = Counter()
    chunk_blocks: dict[str, int] = {}
    for d in docs:
        h = d["text"].encode().hex().upper()
        blocks = [h[i : i + 8] for i in range(0, len(h) - 7, 8)]
        cur: list[str] = []
        chunks: list[list[str]] = []
        for b in blocks:
            cur.append(b)
            if hashlib.md5(b.encode()).hexdigest().startswith("0"):
                chunks.append(cur)
                cur = []
        if cur:
            chunks.append(cur)
        for ch in chunks:
            key = hashlib.md5("".join(ch).encode()).hexdigest()
            chunk_counts[key] += 1
            chunk_blocks[key] = len(ch)
    n_chunks = sum(chunk_counts.values())
    n_distinct = len(chunk_counts)
    blocks_total = sum(
        cnt * chunk_blocks[k] for k, cnt in chunk_counts.items()
    )
    blocks_saved = sum(
        (cnt - 1) * chunk_blocks[k] for k, cnt in chunk_counts.items()
    )
    row = QUERIES["mm_cdc_dedup"].spark(spark, SF).collect()[0]
    assert (
        row["n_chunks"],
        row["n_distinct"],
        row["blocks_total"],
        row["blocks_saved"],
    ) == (n_chunks, n_distinct, blocks_total, blocks_saved)
    # the synthetic corpus HAS near/exact dups: savings must be real
    assert row["blocks_saved"] > 0
