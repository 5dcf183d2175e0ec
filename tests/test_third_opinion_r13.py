"""Third opinions for the staged round-13 tier: independent pure-Python
implementations (no Spark, no DuckDB) recomputed from the raw parquet
bytes and compared row-for-row against the Spark output at sf0.001.
The parity gate proves Spark == DuckDB; these prove both engines
compute the INTENDED quantity, not a shared misreading.
"""

from __future__ import annotations

import hashlib
import math

import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from clueso_spark.plans.similarity_queries import N_PROBES as _FANN_PROBES
from clueso_spark.plans.staged_r13 import (
    _CUSUM_H_CENTS,
    _CUSUM_K_CENTS,
    _FANN_NPROBE,
    _FANN_TENANTS,
    _FANN_TOPK,
)
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r13")

SF = "/root/testdata/sf0.001"
_DAY_US = 86_400_000_000


def _md5_mod(s: str, mod: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod


def test_cusum_matches_textbook_recurrence(spark):
    """The windowed prefix-min identity vs the imperative textbook
    recurrence S_t = max(0, S_{t-1} + x_t - K), per user, from the raw
    parquet."""
    t = pq.read_table(f"{SF}/events.parquet").to_pylist()
    by_user: dict[int, list] = {}
    for r in t:
        by_user.setdefault(r["user_id"], []).append(r)
    want = {}
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        s = 0
        n_alarms, max_s, first_alarm = 0, 0, -1
        for r in rows:
            x = round(r["value"] * 100) - _CUSUM_K_CENTS
            s = max(0, s + x)
            max_s = max(max_s, s)
            if s > _CUSUM_H_CENTS:
                n_alarms += 1
                if first_alarm < 0:
                    # FIRST in processing order -- not min(event_id);
                    # ids are not guaranteed time-ordered
                    first_alarm = r["event_id"]
        want[uid] = (len(rows), n_alarms, max_s, first_alarm)
    got = {
        r["user_id"]: (
            r["n_events"],
            r["n_alarms"],
            r["max_cusum"],
            r["first_alarm_event_id"],
        )
        for r in QUERIES["window_cusum_changepoint"].spark(spark, SF).collect()
    }
    assert got == want


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=-(10**6), max_value=10**6), max_size=60)
)
def test_prefix_min_identity_equals_recurrence(xs):
    """The algebra the op rests on, randomized: for any integer
    sequence, P_t - min(0, min_{j<=t} P_j) equals the clamped
    recurrence max(0, S_{t-1} + x_t) at every step."""
    s, p, mn = 0, 0, 0
    for x in xs:
        s = max(0, s + x)
        p += x
        mn = min(mn, p)
        assert s == p - min(0, mn)


def test_retention_matrix_from_raw_parquet(spark):
    import datetime

    t = pq.read_table(f"{SF}/events.parquet").to_pylist()
    epoch = datetime.datetime(1970, 1, 1)
    uw = set()
    for r in t:
        # naive-datetime arithmetic, NOT .timestamp(): the parquet
        # values are tz-naive UTC instants and .timestamp() would
        # reinterpret them in the box's local zone
        delta = r["ts"] - epoch
        us = (delta.days * 86_400 + delta.seconds) * 1_000_000 + (
            delta.microseconds
        )
        week = us // _DAY_US // 7
        uw.add((r["user_id"], week))
    cohort = {}
    for uid, week in uw:
        cohort[uid] = min(cohort.get(uid, week), week)
    sizes: dict[int, int] = {}
    for uid, cw in cohort.items():
        sizes[cw] = sizes.get(cw, 0) + 1
    act: dict[tuple[int, int], int] = {}
    for uid, week in uw:
        key = (cohort[uid], week - cohort[uid])
        act[key] = act.get(key, 0) + 1
    want = {
        (cw, off): (n, sizes[cw], 10000 * n // sizes[cw])
        for (cw, off), n in act.items()
    }
    got = {
        (r["cohort_week"], r["week_offset"]): (
            r["n_active"],
            r["cohort_size"],
            r["retention_x10000"],
        )
        for r in QUERIES["ev_retention_cohort_matrix"]
        .spark(spark, SF)
        .collect()
    }
    assert got == want


def _chunk_doc(text: str) -> list[tuple[str, int]]:
    """Independent CDC chunker: 8-hex blocks of the UPPERCASE hex
    encoding (Spark/DuckDB hex() is uppercase), boundary after any
    block whose md5 starts with '0', chunk hash = md5 of the
    concatenated block string."""
    hx = text.encode("utf-8").hex().upper()
    blocks = [hx[i : i + 8] for i in range(0, len(hx) - len(hx) % 8, 8)]
    chunks, cur = [], []
    for b in blocks:
        cur.append(b)
        if hashlib.md5(b.encode()).hexdigest().startswith("0"):
            chunks.append(cur)
            cur = []
    if cur:
        chunks.append(cur)
    return [
        (hashlib.md5("".join(c).encode()).hexdigest(), len(c))
        for c in chunks
    ]


def test_cdc_store_delta_matches_python_incremental_apply(spark):
    """Full independent rebuild of the maintenance: chunk every doc in
    pure Python, build the OLD store as a dict, apply the delta
    (quintile-1 decrements with GC, quintile-0 increments), compare
    entry-for-entry with the Spark output."""
    t = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    store: dict[str, list[int]] = {}

    def bump(chunks, delta):
        for h, nb in chunks:
            if h not in store:
                store[h] = [0, nb]
            store[h][0] += delta
            if store[h][0] <= 0:
                del store[h]

    docs = {r["doc_id"]: _chunk_doc(r["text"]) for r in t}
    quint = {d: _md5_mod(str(d), 5) for d in docs}
    for d, chunks in docs.items():  # OLD store
        if quint[d] != 0:
            bump(chunks, +1)
    for d, chunks in docs.items():  # delta: deletes then inserts
        if quint[d] == 1:
            bump(chunks, -1)
    for d, chunks in docs.items():
        if quint[d] == 0:
            bump(chunks, +1)
    want = {h: (rc, nb) for h, (rc, nb) in store.items()}
    got = {
        r["chunk_hash"]: (r["refcount"], r["nb"])
        for r in QUERIES["mm_cdc_store_delta"].spark(spark, SF).collect()
    }
    assert got == want


def test_filtered_ann_from_raw_parquet(spark):
    """Independent filtered-ANN scorer: centroids, probe routing, both
    filter arms and the tenant-slice truth recomputed with plain
    Python floats (same double arithmetic), compared count-for-count."""
    t = pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in t}
    label = {r["vec_id"]: r["label"] for r in t}
    tenant = {v: _md5_mod(str(v), _FANN_TENANTS) for v in vecs}
    sq = {v: sum(x * x for x in vec) for v, vec in vecs.items()}

    cells: dict[int, list[int]] = {}
    for v in vecs:
        cells.setdefault(label[v], []).append(v)
    cent = {}
    for c, members in cells.items():
        dim = len(vecs[members[0]])
        # float sum order could differ from the decimal-exact engine
        # mean; math.fsum is exact, matching the decimal(28,14) path
        cent[c] = [
            math.fsum(vecs[m][i] for m in members) / len(members)
            for i in range(dim)
        ]

    def cos(a, asq, b, bsq):
        return sum(x * y for x, y in zip(a, b)) / (
            math.sqrt(asq) * math.sqrt(bsq)
        )

    want = {}
    for p in range(_FANN_PROBES):
        if p not in vecs:
            continue
        target = p % _FANN_TENANTS
        csq = {c: sum(x * x for x in cv) for c, cv in cent.items()}
        ranked_cells = sorted(
            cent,
            key=lambda c: (-cos(vecs[p], sq[p], cent[c], csq[c]), c),
        )[:_FANN_NPROBE]
        cand = [
            v
            for c in ranked_cells
            for v in cells[c]
            if v != p
        ]
        by_cos = sorted(
            cand, key=lambda v: (-cos(vecs[p], sq[p], vecs[v], sq[v]), v)
        )
        pre = [v for v in by_cos if tenant[v] == target][:_FANN_TOPK]
        post = [v for v in by_cos[:_FANN_TOPK] if tenant[v] == target]
        slice_ = [v for v in vecs if tenant[v] == target and v != p]
        truth = sorted(
            slice_, key=lambda v: (-cos(vecs[p], sq[p], vecs[v], sq[v]), v)
        )[:_FANN_TOPK]
        want[p] = (
            target,
            len(slice_),
            sum(1 for v in cand if tenant[v] == target),
            len(truth),
            len(pre),
            len(set(pre) & set(truth)),
            len(post),
            len(set(post) & set(truth)),
        )
    got = {
        r["probe_id"]: (
            r["target_tenant"],
            r["n_tenant_corpus"],
            r["n_candidates_pre"],
            r["n_truth"],
            r["n_pre"],
            r["pre_hits"],
            r["n_post_survivors"],
            r["post_hits"],
        )
        for r in QUERIES["sim_filtered_ann"].spark(spark, SF).collect()
    }
    assert got == want
